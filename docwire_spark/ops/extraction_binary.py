"""Binary-format parsers through the DISTRIBUTED path, oracle-gated.

Round-1 gap (VERDICT.md): the binary parsers (pdf, docx, rtf, eml,
zip) were golden-tested in pure Python but never crossed the Spark
boundary under the driver's oracle gate — mime routing of binary
payloads inside an Arrow batch kernel was unexercised.

Each query here synthesizes REAL binary payloads deterministically
from ``documents.text`` inside an Arrow-batched builder kernel
(zip containers, classic-xref PDFs with literal-string content
streams, RTF groups, RFC-822 messages), routes them through the real
pipeline (``extract.extract_pages``: sniff -> dispatch -> parse ->
render), and the DuckDB oracle reconstructs the expected extracted
bytes analytically — a per-row byte-identity gate on the whole
distributed extraction path for each parser family.

``documents.text`` is pure ``[a-z0-9 .,]`` ASCII (verified round 1),
so no PDF-string escaping (``()\\``), RTF control chars (``{}\\``),
XML entities (``<&``), or charset ambiguity enters the oracle.

Reference parity anchors: pdf_parser (src/pdf_parser.cpp),
odf_ooxml parser (src/odf_ooxml_parser.cpp), rtf_parser
(src/rtf_parser.cpp), eml_parser (src/eml_parser.cpp),
archives_parser (src/archives_parser.cpp); rendering rules
SURVEY.md §2.5.1.
"""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from docwire_spark.ops.common import load
from docwire_spark.spark.extract import extract_pages
from docwire_spark.spark.session import map_batches

_URL_PREFIX = "https://synth.local/d/"

DOCX_MIME = (
    "application/vnd.openxmlformats-officedocument"
    ".wordprocessingml.document"
)

# ---------------------------------------------------------------------------
# deterministic payload builders (pure functions; run inside the
# Arrow-batched builder kernel on executors)
# ---------------------------------------------------------------------------

#: fixed DOS timestamp so zip payloads are byte-stable across runs
_ZIP_TS = (1980, 1, 1, 0, 0, 0)

_DOCX_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="'
    + DOCX_MIME + '.main+xml"/></Types>'
)


def make_docx(text: str) -> bytes:
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main">'
        "<w:body><w:p><w:r><w:t>" + text + "</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("[Content_Types].xml", _ZIP_TS), _DOCX_CT)
        z.writestr(zipfile.ZipInfo("word/document.xml", _ZIP_TS), doc)
    return buf.getvalue()


def make_rtf(text: str) -> bytes:
    return (
        "{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Times New Roman;}}\\f0 "
        + text + "\\par}"
    ).encode()


def make_eml(doc_id: int, text: str) -> bytes:
    return (
        "From: sender@synth.local\r\n"
        "To: rcpt@synth.local\r\n"
        f"Subject: doc {doc_id}\r\n"
        "Date: Mon, 01 Jan 2024 00:00:00 +0000\r\n"
        "MIME-Version: 1.0\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "\r\n"
        + text + "\r\n"
    ).encode()


def make_zip(text: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("a.txt", _ZIP_TS), text)
    return buf.getvalue()


def make_pdf(text: str) -> bytes:
    """Classic-xref PDF 1.4: one page, one literal-string Tj, Type1
    base font, uncompressed content stream, correct xref offsets."""
    stream = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode()
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offs:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objs) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


XLSX_MIME = (
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
)
PPTX_MIME = (
    "application/vnd.openxmlformats-officedocument"
    ".presentationml.presentation"
)
ODT_MIME = "application/vnd.oasis.opendocument.text"

_SSML = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_CT_NS = "http://schemas.openxmlformats.org/package/2006/content-types"
_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"


def make_xlsx(text: str) -> bytes:
    """One sheet, A1 = shared string (the doc text), B1 = numeric 7 —
    exercises sharedStrings indirection + the table-grid render."""
    ct = (
        f'<?xml version="1.0"?><Types xmlns="{_CT_NS}">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="'
        + XLSX_MIME + '.main+xml"/></Types>'
    )
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{_SSML}" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships"><sheets>'
        '<sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        f'<?xml version="1.0"?><Relationships xmlns="{_REL_NS}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet"'
        ' Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings"'
        ' Target="sharedStrings.xml"/></Relationships>'
    )
    sst = (
        f'<?xml version="1.0"?><sst xmlns="{_SSML}" count="1"'
        f' uniqueCount="1"><si><t>{text}</t></si></sst>'
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{_SSML}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>7</v></c>'
        "</row></sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("[Content_Types].xml", _ZIP_TS), ct)
        z.writestr(zipfile.ZipInfo("xl/workbook.xml", _ZIP_TS), wb)
        z.writestr(zipfile.ZipInfo("xl/_rels/workbook.xml.rels", _ZIP_TS),
                   rels)
        z.writestr(zipfile.ZipInfo("xl/sharedStrings.xml", _ZIP_TS), sst)
        z.writestr(zipfile.ZipInfo("xl/worksheets/sheet1.xml", _ZIP_TS),
                   sheet)
    return buf.getvalue()


def make_pptx(text: str) -> bytes:
    ct = (
        f'<?xml version="1.0"?><Types xmlns="{_CT_NS}">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/ppt/presentation.xml" ContentType="'
        + PPTX_MIME + '.main+xml"/></Types>'
    )
    slide = (
        '<?xml version="1.0"?><p:sld'
        ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
        ' xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/'
        'main"><p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r>'
        f"<a:t>{text}</a:t></a:r></a:p></p:txBody></p:sp>"
        "</p:spTree></p:cSld></p:sld>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("[Content_Types].xml", _ZIP_TS), ct)
        z.writestr(zipfile.ZipInfo("ppt/presentation.xml", _ZIP_TS),
                   "<p:presentation/>")
        z.writestr(zipfile.ZipInfo("ppt/slides/slide1.xml", _ZIP_TS), slide)
    return buf.getvalue()


def make_odt(text: str) -> bytes:
    content = (
        '<?xml version="1.0"?><office:document-content'
        ' xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        f"<office:body><office:text><text:p>{text}</text:p>"
        "</office:text></office:body></office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("mimetype", _ZIP_TS), ODT_MIME)
        z.writestr(zipfile.ZipInfo("content.xml", _ZIP_TS), content)
    return buf.getvalue()


def _cfb_build(streams: dict) -> bytes:
    """Minimal deterministic OLE2/CFB container writer (512-byte
    sectors).  Streams are padded to >= 4096 bytes so everything lives
    in the regular FAT (no mini-stream) — BIFF stops at EOF records
    and the DOC FIB carries explicit lengths, so zero padding is
    invisible to the parsers.  Layout: header | FAT | directory |
    stream sectors."""
    import struct

    SEC = 512
    FREE, END, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    items = []
    for name, data in streams.items():
        size = len(data)
        if len(data) < 4096:
            data = data + b"\x00" * (4096 - len(data))
        items.append((name, data, size))
    n_dir_entries = 1 + len(items)
    n_dir_sectors = (n_dir_entries + 3) // 4
    stream_sectors = [(len(d) + SEC - 1) // SEC for _, d, _ in items]
    total_data = n_dir_sectors + sum(stream_sectors)
    n_fat = 1
    while n_fat * 128 < n_fat + total_data:
        n_fat += 1
    dir_start = n_fat
    starts, cur = [], dir_start + n_dir_sectors
    for ns in stream_sectors:
        starts.append(cur)
        cur += ns
    fat = [FREE] * (n_fat * 128)
    for s in range(n_fat):
        fat[s] = FATSECT
    for k in range(n_dir_sectors):
        fat[dir_start + k] = (
            dir_start + k + 1 if k < n_dir_sectors - 1 else END
        )
    for st, ns in zip(starts, stream_sectors):
        for k in range(ns):
            fat[st + k] = st + k + 1 if k < ns - 1 else END

    def dirent(name, typ, start, size, child=FREE, right=FREE):
        nm = name.encode("utf-16-le") + b"\x00\x00"
        e = bytearray(128)
        e[0:len(nm)] = nm
        struct.pack_into("<H", e, 64, len(nm))
        e[66], e[67] = typ, 1
        struct.pack_into("<I", e, 68, FREE)   # left sibling
        struct.pack_into("<I", e, 72, right)
        struct.pack_into("<I", e, 76, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    ents = [dirent("Root Entry", 5, END, 0, child=1)]
    for i, (name, d, size) in enumerate(items):
        right = i + 2 if i + 1 < len(items) else FREE
        ents.append(dirent(name, 2, starts[i], size if size >= 4096
                           else len(d), right=right))
    while len(ents) % 4:
        ents.append(b"\x00" * 128)

    h = bytearray(512)
    h[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", h, 24, 0x3E)
    struct.pack_into("<H", h, 26, 3)
    struct.pack_into("<H", h, 28, 0xFFFE)
    struct.pack_into("<H", h, 30, 9)
    struct.pack_into("<H", h, 32, 6)
    struct.pack_into("<I", h, 44, n_fat)
    struct.pack_into("<I", h, 48, dir_start)
    struct.pack_into("<I", h, 56, 4096)
    struct.pack_into("<I", h, 60, END)
    struct.pack_into("<I", h, 68, END)
    for k in range(109):
        struct.pack_into("<I", h, 76 + 4 * k, k if k < n_fat else FREE)
    out = bytearray(h)
    for s in range(n_fat):
        for v in fat[s * 128:(s + 1) * 128]:
            out += struct.pack("<I", v)
    for k in range(n_dir_sectors):
        out += b"".join(ents[k * 4:(k + 1) * 4])
    for _, d, _ in items:
        out += d + b"\x00" * ((-len(d)) % SEC)
    return bytes(out)


def make_xls(text: str) -> bytes:
    """BIFF8 worksheet substream: BOF + LABEL(A1 = text) + EOF inside
    a Workbook stream."""
    import struct

    def rec(t, payload):
        return struct.pack("<HH", t, len(payload)) + payload

    wb = b"".join([
        rec(0x0809, struct.pack("<HHHH", 0x0600, 0x0010, 0x0DBB, 0x07CC)),
        rec(0x0204, struct.pack("<HHH", 0, 0, 0)
            + struct.pack("<H", len(text)) + b"\x00"
            + text.encode("latin-1")),
        rec(0x000A, b""),
    ])
    return _cfb_build({"Workbook": wb})


def make_doc(text: str) -> bytes:
    """Word97 binary DOC: FIB (wIdent, ccpText, fcClx/lcbClx) in the
    WordDocument stream, single-piece CLX in 0Table, cp1252 text with
    a paragraph mark."""
    import struct

    doctext = text + "\r"
    wd = bytearray(2048)
    struct.pack_into("<H", wd, 0, 0xA5EC)
    struct.pack_into("<H", wd, 2, 0x00C1)
    struct.pack_into("<H", wd, 10, 0)          # fWhichTblStm=0 -> 0Table
    struct.pack_into("<i", wd, 0x4C, len(doctext))
    fc_text = 1024
    raw = doctext.encode("cp1252")
    wd[fc_text:fc_text + len(raw)] = raw
    plc = (
        struct.pack("<II", 0, len(doctext))
        + struct.pack("<H", 0)
        + struct.pack("<I", (fc_text * 2) | 0x40000000)  # compressed fc
        + struct.pack("<H", 0)
    )
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<II", wd, 0x01A2, 0, len(clx))
    return _cfb_build({"WordDocument": bytes(wd), "0Table": clx})


def make_ppt(text: str) -> bytes:
    """Binary PowerPoint: one TextBytesAtom in the 'PowerPoint
    Document' stream."""
    import struct

    payload = text.encode("latin-1")
    stream = struct.pack("<HHI", 0, 0x0FA8, len(payload)) + payload
    return _cfb_build({"PowerPoint Document": stream})


XLSB_MIME = "application/vnd.ms-excel.sheet.binary.macroenabled.12"
PAGES_MIME = "application/vnd.apple.pages"
RAR_MIME = "application/vnd.rar"


def make_rar(text: str) -> bytes:
    """Minimal RAR5 with one stored (method-0) text member — enough
    to exercise the rar sniff + kernel/rar5.py walk + member dispatch
    through the distributed path."""
    import struct
    import zlib

    def vint(n):
        out = b""
        while True:
            b = n & 0x7F
            n >>= 7
            out += bytes([b | (0x80 if n else 0)])
            if not n:
                return out

    def block(htype, fields, data=b""):
        body = vint(htype) + fields
        hdr = vint(len(body)) + body
        return struct.pack("<I", zlib.crc32(hdr)) + hdr + data

    payload = text.encode()
    nm = b"a.txt"
    out = b"Rar!\x1a\x07\x01\x00"
    out += block(1, vint(0) + vint(0))
    out += block(2, vint(2) + vint(len(payload)) + vint(0)
                 + vint(len(payload)) + vint(0) + vint(0) + vint(0)
                 + vint(len(nm)) + nm, payload)
    out += block(5, vint(0) + vint(0))
    return out


def make_xlsb(text: str) -> bytes:
    """BIFF12 sheet: varint-framed BrtRowHdr + inline-string cell
    (no sharedStrings indirection needed for inline strings)."""
    import struct

    def rec(t, payload):
        size = len(payload)
        sv = b""
        while True:
            b = size & 0x7F
            size >>= 7
            sv += bytes([b | (0x80 if size else 0)])
            if not size:
                break
        return bytes([t]) + sv + payload

    sheet = rec(0x00, struct.pack("<I", 0) + b"\x00" * 20) + rec(
        0x06,
        struct.pack("<I", 0) + b"\x00" * 4
        + struct.pack("<I", len(text)) + text.encode("utf-16-le"),
    )
    ct = (
        f'<?xml version="1.0"?><Types xmlns="{_CT_NS}">'
        '<Default Extension="bin" ContentType='
        '"application/vnd.ms-excel.sheet.binary.macroEnabled.main"/>'
        "</Types>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("[Content_Types].xml", _ZIP_TS), ct)
        z.writestr(zipfile.ZipInfo("xl/workbook.bin", _ZIP_TS), b"")
        z.writestr(zipfile.ZipInfo("xl/worksheets/sheet1.bin", _ZIP_TS),
                   sheet)
    return buf.getvalue()


def make_pages(text: str) -> bytes:
    """iWork Pages bundle: index.xml with an <sl:document> marker (the
    zip-member sniff that selects the pages app) and one text-storage
    paragraph."""
    idx = (
        '<?xml version="1.0"?><sl:document'
        ' xmlns:sl="http://developer.apple.com/namespaces/sl"'
        ' xmlns:sf="http://developer.apple.com/namespaces/sf">'
        "<sf:text-storage><sf:text-body><sf:p>" + text + "</sf:p>"
        "</sf:text-body></sf:text-storage></sl:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo("index.xml", _ZIP_TS), idx)
    return buf.getvalue()


def make_fodt(text: str) -> bytes:
    """Flat-ODF single-file XML with the office:mimetype attribute the
    sniff refinement keys on (byte-identical to the Catalyst-built
    template extract_fodt_roundtrip used through round 3)."""
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document xmlns:office="urn:oasis:names:tc:'
        'opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:'
        'names:tc:opendocument:xmlns:text:1.0"'
        ' office:mimetype="application/vnd.oasis.opendocument'
        '.text"><office:body><office:text><text:p>' + text +
        "</text:p></office:text></office:body></office:document>"
    ).encode()


_BUILDERS = {
    "pdf": lambda did, text: make_pdf(text),
    "fodt": lambda did, text: make_fodt(text),
    "docx": lambda did, text: make_docx(text),
    "rtf": lambda did, text: make_rtf(text),
    "eml": make_eml,
    "zip": lambda did, text: make_zip(text),
    "xlsx": lambda did, text: make_xlsx(text),
    "pptx": lambda did, text: make_pptx(text),
    "odt": lambda did, text: make_odt(text),
    "xls": lambda did, text: make_xls(text),
    "doc": lambda did, text: make_doc(text),
    "ppt": lambda did, text: make_ppt(text),
    "xlsb": lambda did, text: make_xlsb(text),
    "pages": lambda did, text: make_pages(text),
    "rar": lambda did, text: make_rar(text),
}

_PAGES_SCHEMA = StructType(
    [StructField("url", StringType()), StructField("html", BinaryType())]
)


def _builder_batches(iterator):
    """Arrow-batched payload builder: (doc_id, text, fmt) -> (url,
    html BINARY).  Runs on executors; per-batch Python, no per-row
    pickling."""
    for batch in iterator:
        urls, payloads = [], []
        for did, text, fmt in zip(batch.column("doc_id").to_pylist(),
                                  batch.column("text").to_pylist(),
                                  batch.column("fmt").to_pylist()):
            urls.append(f"{_URL_PREFIX}{did}.{fmt}")
            payloads.append(_BUILDERS[fmt](did, text or ""))
        yield {"url": urls, "html": payloads}


def _synth_pages(docs: DataFrame, fmt_col) -> DataFrame:
    return map_batches(
        docs.select("doc_id", "text", fmt_col.alias("fmt")),
        _builder_batches, _PAGES_SCHEMA,
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True)
    pages = _synth_pages(docs, F.lit(fmt))
    res = extract_pages(pages)
    return res.select(
        F.regexp_extract("url", r"/(\d+)\.", 1).cast("bigint").alias("doc_id"),
        "mime",
        "extracted_text",
        "error",
    )


# ---------------------------------------------------------------------------
# grouped multi-format roundtrips (round 4): the driver's correctness
# window is finite, so one query per PARSER FAMILY replaces one per
# format — every document is synthesized in EVERY format of the group
# (explode, not residue-split: full per-format byte-identity coverage
# at the same total extraction work as the per-format queries) and the
# oracle is the UNION ALL of the per-format expected-bytes SQL.
# ---------------------------------------------------------------------------

#: expected extracted-text tail per format (paragraph close /
#: close_document rules)
_FMT_TAIL = {
    "pdf": "chr(10) || chr(10)",
    "docx": "chr(10) || chr(10)",
    "rtf": "chr(10) || chr(10)",
    "eml": "chr(10)",
    "zip": "chr(10) || chr(10)",
    "pptx": "chr(10) || chr(10)",
    "odt": "chr(10) || chr(10)",
    "xls": "chr(10) || chr(10)",
    "doc": "chr(10) || chr(10)",
    "ppt": "chr(10) || chr(10)",
    "fodt": "chr(10) || chr(10)",
    "xlsb": "chr(10) || chr(10) || chr(10)",
    "pages": "chr(10)",
    "rar": "chr(10) || chr(10)",
}

FODT_MIME = "application/vnd.oasis.opendocument.text-flat-xml"

_FMT_MIME = {
    "pdf": "application/pdf",
    "docx": DOCX_MIME,
    "rtf": "application/rtf",
    "eml": "message/rfc822",
    "zip": "application/zip",
    "xlsx": XLSX_MIME,
    "pptx": PPTX_MIME,
    "odt": ODT_MIME,
    "xls": "application/vnd.ms-excel",
    "doc": "application/msword",
    "ppt": "application/vnd.ms-powerpoint",
    "fodt": FODT_MIME,
    "xlsb": XLSB_MIME,
    "pages": PAGES_MIME,
    "rar": RAR_MIME,
}


def _group_roundtrip(spark: SparkSession, sf_dir: str,
                     fmts: tuple) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text",
        F.explode(F.array(*[F.lit(f) for f in fmts])).alias("fmt"),
    )
    pages = _synth_pages(docs, F.col("fmt"))
    res = extract_pages(pages)
    return res.select(
        F.regexp_extract("url", r"/(\d+)\.", 1).cast("bigint").alias("doc_id"),
        F.regexp_extract("url", r"\.([a-z0-9]+)$", 1).alias("fmt"),
        "mime",
        "extracted_text",
        "error",
    )


def _group_sql(fmts: tuple) -> str:
    parts = []
    for fmt in fmts:
        if fmt == "xlsx":
            # 2-cell grid render: A1 = text padded to col width + 2-space
            # gutter, B1 = '7' padded to col width (plain_text_writer rules)
            parts.append(f"""
SELECT doc_id, 'xlsx' AS fmt, '{XLSX_MIME}' AS mime,
       rpad(text, CAST(length(text) + 2 AS INT), ' ')
         || rpad('7', CAST(length(text) AS INT), ' ')
         || chr(10) || chr(10) AS extracted_text,
       CAST(NULL AS VARCHAR) AS error
FROM documents""")
        else:
            parts.append(f"""
SELECT doc_id, '{fmt}' AS fmt, '{_FMT_MIME[fmt]}' AS mime,
       text || {_FMT_TAIL[fmt]} AS extracted_text,
       CAST(NULL AS VARCHAR) AS error
FROM documents""")
    return "\nUNION ALL\n".join(parts)


#: parser-family groups (one grouped roundtrip query each):
#: OOXML zip containers; ODF + iWork XML; CFB/BIFF legacy Office
#: binaries (xlsb is BIFF12-in-zip — same record-reader family); the
#: document-stream parsers (pdf/rtf/eml) plus the archive walkers
GROUP_OOXML = ("docx", "xlsx", "pptx")
GROUP_ODF_IWORK = ("odt", "fodt", "pages")
GROUP_MS_BINARY = ("doc", "xls", "ppt", "xlsb")
GROUP_DOCSTREAM = ("pdf", "rtf", "eml", "zip", "rar")


def extract_ooxml_roundtrip(spark, sf_dir):
    """OOXML family through the distributed path: every document as
    docx AND xlsx AND pptx (ZIP container -> content-types dispatch ->
    wordprocessing / sharedStrings+grid / slide spTree renders —
    kernel/docx_extract.py, xlsx_extract.py; reference
    src/odf_ooxml_parser.cpp)."""
    return _group_roundtrip(spark, sf_dir, GROUP_OOXML)


def extract_odf_iwork_roundtrip(spark, sf_dir):
    """ODF + iWork family: odt (mimetype member sniff), flat-ODF
    (office:mimetype XML refinement), Pages bundle (index.xml
    <sl:document> zip-member sniff) — kernel/odf_extract.py,
    iwork_extract.py; reference src/odf_ooxml_parser.cpp +
    content_type_odf_flat.cpp + content_type_iwork.cpp."""
    return _group_roundtrip(spark, sf_dir, GROUP_ODF_IWORK)


def extract_ms_binary_roundtrip(spark, sf_dir):
    """Legacy Office binaries: CFB container walk (doc FIB+piece
    table, xls BIFF8, ppt record tree) + xlsb BIFF12 varint records —
    kernel/cfb.py, doc_extract.py, xls_extract.py, ppt_extract.py,
    xlsb_extract.py; reference src/doc_parser.cpp (wv2),
    xls_parser.cpp, ppt_parser.cpp, xlsb_parser.cpp."""
    return _group_roundtrip(spark, sf_dir, GROUP_MS_BINARY)


def extract_docstream_roundtrip(spark, sf_dir):
    """Document-stream parsers + archive walkers: pdf (content-stream
    engine), rtf (control-word machine), eml (MIME walk), zip central
    directory, rar5 block walk — kernel/pdfminer_lite.py,
    rtf_extract.py, eml_extract.py, archive_extract.py, rar5.py;
    reference src/pdf_parser.cpp, rtf_parser.cpp, eml_parser.cpp,
    archives_parser.cpp."""
    return _group_roundtrip(spark, sf_dir, GROUP_DOCSTREAM)


EXTRACT_OOXML_SQL = _group_sql(GROUP_OOXML)
EXTRACT_ODF_IWORK_SQL = _group_sql(GROUP_ODF_IWORK)
EXTRACT_MS_BINARY_SQL = _group_sql(GROUP_MS_BINARY)
EXTRACT_DOCSTREAM_SQL = _group_sql(GROUP_DOCSTREAM)


def binary_dispatch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed binary corpus through the ONE pipeline: each row is
    synthesized as pdf/docx/rtf/eml/zip by doc_id residue; the
    magic-byte + container sniff cascade must route every payload to
    the right parser (zip-vs-docx disambiguation exercises the
    odf_ooxml ZIP-member sniff).  Unordered aggregate — see
    extraction.format_dispatch_agg."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    fmt = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("pdf"))
        .when(F.col("doc_id") % 5 == 1, F.lit("docx"))
        .when(F.col("doc_id") % 5 == 2, F.lit("rtf"))
        .when(F.col("doc_id") % 5 == 3, F.lit("eml"))
        .otherwise(F.lit("zip"))
    )
    pages = _synth_pages(docs, fmt)
    res = extract_pages(pages)
    return res.groupBy("mime").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("extracted_text")).alias("total_chars"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "n_failed"
        ),
    )


def extract_binary_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return binary_dispatch_agg(spark, sf_dir).orderBy("mime")


extract_binary_dispatch.__doc__ = binary_dispatch_agg.__doc__


EXTRACT_BINARY_DISPATCH_SQL = f"""
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'application/pdf'
           WHEN 1 THEN '{DOCX_MIME}'
           WHEN 2 THEN 'application/rtf'
           WHEN 3 THEN 'message/rfc822'
           ELSE 'application/zip' END AS mime,
         CASE doc_id % 5
           WHEN 3 THEN length(text) + 1
           ELSE length(text) + 2
         END AS n_chars
  FROM documents
)
SELECT mime, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(0 AS BIGINT) AS n_failed
FROM m GROUP BY mime ORDER BY mime
"""


def make_nested_zip(text: str, doc_id: int) -> bytes:
    """Two-level archive: d{id}.txt + inner{id}.zip(e{id}.txt) +
    m{id}.eml carrying attachment a{id}.txt — the recursive-DataTree
    fixture for extract_tree (archive AND e-mail children)."""
    t = text.encode()
    sid = str(doc_id).encode()
    eml = (
        b"From: a@b.c\r\nSubject: doc " + sid
        + b"\r\nMIME-Version: 1.0\r\n"
        b"Content-Type: multipart/mixed; boundary=XBOUNDARY7Q\r\n\r\n"
        b"--XBOUNDARY7Q\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n\r\n" + t
        + b"\r\n--XBOUNDARY7Q\r\n"
        b"Content-Type: text/plain; name=a" + sid + b".txt\r\n"
        b"Content-Disposition: attachment; filename=a" + sid
        + b".txt\r\n\r\n" + t
        + b"\r\n--XBOUNDARY7Q--\r\n"
    )
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo(f"e{doc_id}.txt", _ZIP_TS), text)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo(f"d{doc_id}.txt", _ZIP_TS), text)
        z.writestr(
            zipfile.ZipInfo(f"inner{doc_id}.zip", _ZIP_TS),
            inner.getvalue(),
        )
        z.writestr(zipfile.ZipInfo(f"m{doc_id}.eml", _ZIP_TS), eml)
    return buf.getvalue()


_TREE_SCHEMA = (
    "doc_id bigint, url string, parent_url string, depth bigint, "
    "mime string, n_chars bigint, error string"
)


def _tree_batches(iterator):
    from docwire_spark.kernel.api import extract_tree

    cols = ("doc_id", "url", "parent_url", "depth", "mime", "n_chars",
            "error")
    for batch in iterator:
        rows = {c: [] for c in cols}
        for doc_id, source, text in zip(
            batch.column("doc_id").to_pylist(),
            batch.column("source").to_pylist(),
            batch.column("text").to_pylist(),
        ):
            blob = make_nested_zip(text, doc_id)
            url = f"https://{source}/a/{doc_id}.zip"
            for u, parent, depth, mime, n_chars, err in extract_tree(
                blob, url
            ):
                rows["doc_id"].append(doc_id)
                rows["url"].append(u)
                rows["parent_url"].append(parent)
                rows["depth"].append(depth)
                rows["mime"].append(mime)
                rows["n_chars"].append(n_chars)
                rows["error"].append(err)
        yield rows


def extract_tree_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive DataTree surfaced relationally (SURVEY §1.5 /
    VERDICT r2 #10): each document becomes a two-level archive whose
    tree flattens to (url, parent_url, depth, mime, n_chars) child
    rows inside one Arrow batch — no shuffle, no driver recursion;
    at 100 TB this is the same map-only shape as extraction itself."""
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "source", "text"
    )
    return map_batches(docs, _tree_batches, _TREE_SCHEMA)


# the tree rows are deterministic functions of (doc_id, source, text):
# root zip, then d.txt / inner.zip at depth 1, e.txt at depth 2; txt
# members render text+"\n\n" (zip-member-txt paragraph close), so
# n_chars = octet_length(utf8 text) + 2
EXTRACT_TREE_SQL = """
WITH d AS (
  SELECT doc_id, source,
         octet_length(encode(text)) + 2 AS n,
         'https://' || source || '/a/' || doc_id || '.zip' AS root
  FROM documents
)
SELECT doc_id, root AS url, CAST(NULL AS VARCHAR) AS parent_url,
       CAST(0 AS BIGINT) AS depth, 'application/zip' AS mime,
       CAST(NULL AS BIGINT) AS n_chars, CAST(NULL AS VARCHAR) AS error
FROM d
UNION ALL
SELECT doc_id, 'd' || doc_id || '.txt', root, 1, 'text/plain',
       CAST(n AS BIGINT), NULL
FROM d
UNION ALL
SELECT doc_id, 'inner' || doc_id || '.zip', root, 1, 'application/zip',
       NULL, NULL
FROM d
UNION ALL
SELECT doc_id, 'e' || doc_id || '.txt', 'inner' || doc_id || '.zip', 2,
       'text/plain', CAST(n AS BIGINT), NULL
FROM d
UNION ALL
-- eml render = body + "attachment: a{id}.txt" banner + inlined
-- attachment + final eol: 2*(n-2) + 24 + digits  (n here includes the
-- txt +2 tail, so subtract it back out)
SELECT doc_id, 'm' || doc_id || '.eml', root, 1, 'message/rfc822',
       CAST(2 * (n - 2) + 24 + length(CAST(doc_id AS VARCHAR)) AS BIGINT),
       NULL
FROM d
UNION ALL
SELECT doc_id, 'a' || doc_id || '.txt', 'm' || doc_id || '.eml', 2,
       'text/plain', CAST(n AS BIGINT), NULL
FROM d
"""


def extract_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup + binary dispatch corpora through the ONE pipeline,
    unioned: the full detector cascade (extension map, magic bytes,
    HTML sniff, ZIP-member sniff) routes html/txt/xml AND
    pdf/docx/rtf/eml/zip payloads, counted per (corpus, mime)."""
    from docwire_spark.ops.extraction import format_dispatch_agg

    # union the UNORDERED aggregates: the checker consumes rows
    # order-insensitively, so the components' presentation sorts
    # would be two discarded global Sort+Exchange stages
    a = format_dispatch_agg(spark, sf_dir).withColumn(
        "corpus", F.lit("markup")
    )
    b = binary_dispatch_agg(spark, sf_dir).withColumn(
        "corpus", F.lit("binary")
    )
    return a.unionByName(b).select(
        "corpus", "mime", "n_docs", "total_chars", "n_failed"
    )


def _dispatch_union_sql() -> str:
    from docwire_spark.ops.extraction import EXTRACT_FORMAT_DISPATCH_SQL

    return f"""
SELECT 'markup' AS corpus, * FROM ({EXTRACT_FORMAT_DISPATCH_SQL})
UNION ALL
SELECT 'binary' AS corpus, * FROM ({EXTRACT_BINARY_DISPATCH_SQL})
"""


# round 4: the 15 per-format roundtrip queries consolidated into 4
# parser-family groups so the whole registry fits the driver's
# correctness window (VERDICT r3 #1).  The per-format builders and
# `_roundtrip` remain the unit-test surface (tests/
# test_binary_roundtrip.py runs each format individually).
QUERIES = {
    "extract_dispatch": extract_dispatch,
    "extract_tree": extract_tree_rows,
    "extract_ooxml_roundtrip": extract_ooxml_roundtrip,
    "extract_odf_iwork_roundtrip": extract_odf_iwork_roundtrip,
    "extract_ms_binary_roundtrip": extract_ms_binary_roundtrip,
    "extract_docstream_roundtrip": extract_docstream_roundtrip,
    "extract_binary_dispatch": extract_binary_dispatch,
}

ORACLES = {
    "extract_dispatch": _dispatch_union_sql(),
    "extract_tree": EXTRACT_TREE_SQL,
    "extract_ooxml_roundtrip": EXTRACT_OOXML_SQL,
    "extract_odf_iwork_roundtrip": EXTRACT_ODF_IWORK_SQL,
    "extract_ms_binary_roundtrip": EXTRACT_MS_BINARY_SQL,
    "extract_docstream_roundtrip": EXTRACT_DOCSTREAM_SQL,
    "extract_binary_dispatch": EXTRACT_BINARY_DISPATCH_SQL,
}
