"""Single-document extraction API used by the Spark layer.

``extract(data, url)`` = the reference pipeline
``content_type::detector | office_formats_parser | plain_text_exporter``
(reference: src/office_formats_parser.h:45-58 dispatch; each parser
gates on its supported mime types) collapsed into one function call.
"""

from __future__ import annotations

import contextvars
import operator
import struct
from dataclasses import dataclass, field

#: active mail filter (standard_filter::filterByMailMinCreationTime);
#: context-scoped so nested back-channel extractions inherit it
_MAIL_MIN_CTIME: contextvars.ContextVar = contextvars.ContextVar(
    "mail_min_ctime", default=None
)

#: active event-stream standard filters (standard_filter.h family);
#: context-scoped so archive entries / nested extractions inherit them
_STD_FILTERS: contextvars.ContextVar = contextvars.ContextVar(
    "std_filters", default=None
)

from docwire_spark.kernel import events as E
from docwire_spark.kernel.charset import ensure_html_utf8
from docwire_spark.kernel.html_extract import html_to_events
from docwire_spark.kernel.renderer import render_plain_text
from docwire_spark.kernel.sniff import CONFIDENCE_NAMES, HIGH, detect_mime
from docwire_spark.kernel.txt_extract import txt_to_events
from docwire_spark.kernel.xml_extract import xml_to_events

HTML_MIMES = frozenset(
    ("text/html", "application/xhtml+xml", "application/vnd.pwg-xhtml-print+xml")
)
XML_MIMES = frozenset(("application/xml", "text/xml"))
PDF_MIMES = frozenset(("application/pdf",))
EML_MIMES = frozenset(("message/rfc822",))
XLSX_MIMES = frozenset(
    ("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",)
)
DOCX_MIMES = frozenset(
    ("application/vnd.openxmlformats-officedocument.wordprocessingml.document",)
)
PPTX_MIMES = frozenset(
    (
        "application/vnd.openxmlformats-officedocument.presentationml.presentation",
        "application/vnd.openxmlformats-officedocument.presentationml.slideshow",
    )
)
ODF_MIMES = frozenset(
    (
        "application/vnd.oasis.opendocument.text",
        "application/vnd.oasis.opendocument.spreadsheet",
        "application/vnd.oasis.opendocument.presentation",
        "application/vnd.oasis.opendocument.graphics",
    )
)
ODF_FLAT_MIMES = frozenset(
    (
        "application/vnd.oasis.opendocument.text-flat-xml",
        "application/vnd.oasis.opendocument.spreadsheet-flat-xml",
        "application/vnd.oasis.opendocument.presentation-flat-xml",
        "application/vnd.oasis.opendocument.graphics-flat-xml",
    )
)
TXT_MIMES = frozenset(
    """text/x-asm text/asp text/aspdotnet text/x-basic text/x-bat text/x-c
    text/x-cmake text/x-csharp text/css text/csv text/x-d text/x-fortran
    text/x-fsharp text/x-go text/x-c++hdr text/html text/x-java-source
    application/javascript text/javascript application/json text/x-jsp
    text/x-lua text/markdown text/x-pascal application/x-httpd-php
    text/x-perl text/x-python text/x-rsrc application/rss+xml
    application/x-sh application/x-tcl text/plain text/x-vbdotnet
    text/x-vbscript application/xml text/yaml""".split()
)

SNIFF_PREFIX_BYTES = 4096

#: events ``n_events`` leaves out (counted at C speed: no per-event
#: Python frame)
_DOCUMENT_KINDS = frozenset((E.DOCUMENT, E.CLOSE_DOCUMENT))
_kind_of = operator.itemgetter(0)


@dataclass
class ExtractResult:
    url: str = ""
    mime: str = ""
    mime_confidence: str = ""
    text: bytes = b""
    spans: list = field(default_factory=list)
    meta: dict = field(default_factory=dict)
    error: str | None = None
    n_events: int = 0
    main_content: str | None = None
    html: bytes | None = None
    meta_text: bytes | None = None
    csv: bytes | None = None


#: output type -> (``extract()`` exports entry, ExtractResult field,
#: media type): the reference CLI's four exporters
#: (docwire.cpp:314-328), for the CLI's --output_type and the HTTP
#: server's routes
OUTPUT_TYPES = {
    "plain_text": (None, "text", "text/plain"),
    "html": ("html", "html", "text/html"),
    "csv": ("csv", "csv", "text/csv"),
    "metadata": ("meta_text", "meta_text", "text/plain"),
}


def extract(
    data: bytes,
    url: str = "",
    want_main_content: bool = False,
    exports: tuple = (),
    mail_min_creation_time: int | None = None,
    folder_names: list | None = None,
    attachment_types: list | None = None,
    mail_max_creation_time: int | None = None,
    max_node_number: int | None = None,
    mime_hint: str | None = None,
    _depth: int = 0,
) -> ExtractResult:
    """``exports`` ⊆ {'html', 'meta_text', 'csv'} adds the optional
    exporter renders (reference html_writer / meta_data_writer /
    csv_writer) alongside the default plain-text output.
    ``mail_min_creation_time`` applies the reference's
    standard_filter::filterByMailMinCreationTime to mailbox formats
    (messages created before the unix timestamp are skipped);
    ``folder_names`` / ``attachment_types`` /
    ``mail_max_creation_time`` / ``max_node_number`` apply the rest of
    the standard_filter family (standard_filter.h:38-62) as
    event-stream transforms — see kernel/standard_filter.py.
    ``mime_hint`` pins the media type at HIGH confidence before
    sniffing (the reference's http_server.cpp:144-155 adds the
    request Content-Type to the data_source the same way, and the
    by_signature/by_file_extension detectors then skip); the
    zip→iWork and OLE2→office refinements still apply, as their
    reference detectors override at HIGHEST confidence."""
    res = ExtractResult(url=url)
    _tok = _MAIL_MIN_CTIME.set(mail_min_creation_time) \
        if mail_min_creation_time is not None else None
    filters = {
        k: v
        for k, v in (
            ("folder_names", folder_names),
            ("attachment_types", attachment_types),
            ("mail_max_creation_time", mail_max_creation_time),
            ("max_node_number", max_node_number),
        )
        if v is not None
    }
    _ftok = _STD_FILTERS.set(filters) if filters else None
    try:
        if mime_hint:
            mime, conf = mime_hint, HIGH
        else:
            mime, conf = detect_mime(data[:SNIFF_PREFIX_BYTES], url)
        res.mime = mime
        res.mime_confidence = CONFIDENCE_NAMES[conf]
        from docwire_spark.kernel.archive_extract import ARCHIVE_MIMES

        if mime == "application/zip":
            # iWork refinement needs the zip directory (the index file
            # is rarely in the sniffable prefix) — reference
            # content_type_iwork.cpp opens the archive the same way
            app = _iwork_app(data)
            if app is not None:
                res.mime = {
                    "pages": "application/vnd.apple.pages",
                    "numbers": "application/vnd.apple.numbers",
                    "key": "application/vnd.apple.keynote",
                }[app]
                res.mime_confidence = CONFIDENCE_NAMES[5]
                from docwire_spark.kernel.iwork_extract import (
                    iwork_to_events,
                )

                events, meta = iwork_to_events(data, app)
                return _finish(res, events, meta, want_main_content, exports)
        if mime in ARCHIVE_MIMES:
            return _extract_archive(
                res, data, mime, url, want_main_content, exports, _depth
            )
        if mime == "application/x-ole-storage":
            # refine the generic OLE2 sniff to the concrete office
            # mime by directory stream names (reference
            # office_formats_parser registers the refined type at
            # highest confidence); parse errors fall through to the
            # normal error path below
            try:
                from docwire_spark.kernel.cfb import CfbFile

                names = set(CfbFile(data).stream_names())
                for stream, refined in (
                    ("WordDocument", "application/msword"),
                    ("Workbook", "application/vnd.ms-excel"),
                    ("Book", "application/vnd.ms-excel"),
                    ("PowerPoint Document",
                     "application/vnd.ms-powerpoint"),
                ):
                    if stream in names:
                        res.mime = refined
                        res.mime_confidence = CONFIDENCE_NAMES[5]
                        break
            except (ValueError, struct.error):
                pass
        events, meta = _parse_by_mime(data, res.mime)
        return _finish(res, events, meta, want_main_content, exports)
    except Exception as exc:  # per-row error capture (no continuation::stop)
        res.error = f"{type(exc).__name__}: {exc}"
    finally:
        if _tok is not None:
            _MAIL_MIN_CTIME.reset(_tok)
        if _ftok is not None:
            _STD_FILTERS.reset(_ftok)
    return res


def _finish(res, events, meta, want_main_content, exports) -> ExtractResult:
    try:
        filters = _STD_FILTERS.get()
        if filters:
            from docwire_spark.kernel.standard_filter import (
                apply_standard_filters,
            )

            events = apply_standard_filters(events, **filters)
        res.meta = meta or {}
        res.n_events = len(events) - sum(
            map(_DOCUMENT_KINDS.__contains__, map(_kind_of, events))
        )
        text, spans = render_plain_text(events)
        res.text = text
        res.spans = spans
        if want_main_content:
            # additive stage, gated off the byte-identity path
            from docwire_spark.kernel.boilerplate import main_content

            res.main_content = main_content(events)
        if "html" in exports:
            from docwire_spark.kernel.html_writer import render_html

            res.html = render_html(events, res.meta)
        if "meta_text" in exports:
            from docwire_spark.kernel.meta_writer import render_metadata

            res.meta_text = render_metadata(res.meta)
        if "csv" in exports:
            from docwire_spark.kernel.csv_writer import render_csv

            res.csv = render_csv(events)
    except Exception as exc:
        res.error = f"{type(exc).__name__}: {exc}"
    return res


def _iwork_app(data: bytes) -> str | None:
    """content_type_iwork.cpp:19-55: presentation.apxl -> keynote;
    index.xml/index.apxl content decides pages/numbers/keynote."""
    import zipfile as _zf
    import io as _io

    try:
        zf = _zf.ZipFile(_io.BytesIO(data))
        names = set(zf.namelist())
        if "presentation.apxl" in names:
            return "key"
        for candidate in ("index.xml", "index.apxl"):
            if candidate in names:
                head = zf.read(candidate)
                if b"<sl:document" in head:
                    return "pages"
                if b"<ls:document" in head:
                    return "numbers"
                if b"<key:presentation" in head:
                    return "key"
        return None
    except Exception:
        return None


#: iWork mimes (vnd.apple canonical + the x-iwork-* aliases the
#: vendored mime-db also lists) -> index-file app name
_IWORK_MIMES = {
    "application/vnd.apple.pages": "pages",
    "application/x-iwork-pages-sffpages": "pages",
    "application/vnd.apple.numbers": "numbers",
    "application/x-iwork-numbers-sffnumbers": "numbers",
    "application/vnd.apple.keynote": "key",
    "application/x-iwork-keynote-sffkey": "key",
}


def _parse_by_mime(data: bytes, mime: str):
    if mime in HTML_MIMES:
        text = ensure_html_utf8(data)
        return html_to_events(text)
    if mime in _IWORK_MIMES:
        from docwire_spark.kernel.iwork_extract import iwork_to_events

        return iwork_to_events(data, _IWORK_MIMES[mime])
    if mime in PDF_MIMES:
        from docwire_spark.kernel.pdf import pdf_to_events

        return pdf_to_events(data)
    if mime in EML_MIMES:
        from docwire_spark.kernel.eml_extract import eml_to_events

        return eml_to_events(data, _parse_child)
    if mime in XLSX_MIMES:
        from docwire_spark.kernel.xlsx_extract import xlsx_to_events

        return xlsx_to_events(data)
    if mime == "application/vnd.ms-excel.sheet.binary.macroenabled.12":
        from docwire_spark.kernel.xlsb_extract import xlsb_to_events

        return xlsb_to_events(data)
    if mime in DOCX_MIMES:
        from docwire_spark.kernel.docx_extract import docx_to_events

        return docx_to_events(data)
    if mime in PPTX_MIMES:
        from docwire_spark.kernel.docx_extract import pptx_to_events

        return pptx_to_events(data)
    if mime in ODF_MIMES:
        from docwire_spark.kernel.odf_extract import odf_to_events

        return odf_to_events(data)
    if mime in ODF_FLAT_MIMES:
        from docwire_spark.kernel.odf_extract import odf_flat_to_events

        return odf_flat_to_events(data)
    if mime == "application/rtf":
        from docwire_spark.kernel.rtf_extract import rtf_to_events

        return rtf_to_events(data)
    if mime in ("application/msword", "application/x-ole-storage",
                "application/vnd.ms-excel", "application/vnd.ms-powerpoint"):
        return _parse_ole(data, mime)
    if mime in XML_MIMES:
        return xml_to_events(data), {}
    if mime in TXT_MIMES:
        return txt_to_events(data), {}
    if mime in ("application/vnd.ms-outlook-pst",
                "application/vnd.ms-outlook-ost"):
        from docwire_spark.kernel.pst_extract import pst_to_events

        return pst_to_events(data, _parse_child,
                             mail_min_creation_time=_MAIL_MIN_CTIME.get())
    if mime == "application/dicom":
        from docwire_spark.kernel.dicom_extract import dicom_to_events

        return dicom_to_events(data)
    if mime.startswith("image/"):
        # reference routes image/* to ocr_parser (src/ocr_parser.cpp);
        # the hook degrades to a per-row error when no engine exists
        from docwire_spark.kernel.ocr import ocr_to_events

        return ocr_to_events(data)
    raise ValueError(f"unsupported mime type: {mime}")


def _parse_ole(data: bytes, mime: str):
    """OLE2 container dispatch by directory stream names (extension
    hints can be wrong; the streams are authoritative)."""
    from docwire_spark.kernel.cfb import CfbFile

    cfb = CfbFile(data)
    names = set(cfb.stream_names())
    if "WordDocument" in names:
        from docwire_spark.kernel.doc_extract import doc_to_events

        return doc_to_events(data)
    if "Workbook" in names or "Book" in names:
        from docwire_spark.kernel.xls_extract import xls_to_events

        return xls_to_events(data)
    if "PowerPoint Document" in names:
        from docwire_spark.kernel.ppt_extract import ppt_to_events

        return ppt_to_events(data)
    raise ValueError(f"unsupported OLE payload (streams: {sorted(names)[:4]})")


def _extract_archive(
    res: ExtractResult,
    data: bytes,
    mime: str,
    url: str,
    want_main_content: bool,
    exports: tuple,
    depth: int,
) -> ExtractResult:
    """Each entry renders as a complete standalone document, outputs
    concatenated (reference archives_parser.cpp back-channel; see
    archive_extract.py).  All-entries-failed == uninterpretable."""
    from docwire_spark.kernel.archive_extract import (
        MAX_DEPTH, ArchiveError, iter_entries,
    )

    if depth >= MAX_DEPTH:
        res.error = "ArchiveError: nesting too deep"
        return res
    n_entries = n_failed = 0
    texts, mains = [], []
    renders = {name: [] for name in exports}
    try:
        for name, payload in iter_entries(data, mime, url):
            n_entries += 1
            sub = extract(
                payload, url=name,
                want_main_content=want_main_content,
                exports=exports, _depth=depth + 1,
            )
            if sub.error is not None:
                n_failed += 1
                continue
            offset = sum(len(t) for t in texts)
            texts.append(sub.text)
            res.spans.extend(
                (s + offset, e + offset, k) for s, e, k in sub.spans
            )
            res.n_events += sub.n_events
            if not res.meta:
                res.meta = sub.meta
            if sub.main_content:
                mains.append(sub.main_content)
            for name_ in exports:
                rendered = getattr(sub, name_)
                if rendered:
                    renders[name_].append(rendered)
        if n_entries and n_failed == n_entries:
            raise ArchiveError("no entries were successfully processed")
        res.text = b"".join(texts)
        if want_main_content:
            res.main_content = "\n".join(mains)
        if "html" in exports:
            res.html = b"".join(renders["html"])
        if "meta_text" in exports:
            res.meta_text = b"".join(renders["meta_text"])
        if "csv" in exports:
            res.csv = b"".join(renders["csv"])
    except Exception as exc:
        res.error = f"{type(exc).__name__}: {exc}"
    return res


def _parse_child(data: bytes, mime_hint: str | None):
    """Back-channel re-entry for nested payloads (reference
    parsing_chain.cpp:57-62: embedded objects re-enter the whole chain
    with full re-detection).  Unsupported/broken payloads yield no
    events (the reference surfaces them as non-fatal error messages)."""
    try:
        mime = mime_hint
        if mime is None:
            mime, _conf = detect_mime(data[:SNIFF_PREFIX_BYTES], "")
        events, _meta = _parse_by_mime(data, mime)
        return events
    except Exception:
        return []


def extract_events(data: bytes, url: str = ""):
    """Events-level API (for tests mirroring the reference's unit
    tests on collected message streams)."""
    mime, _conf = detect_mime(data[:SNIFF_PREFIX_BYTES], url)
    return _parse_by_mime(data, mime)


def extract_tree(data: bytes, url: str = "", max_depth: int | None = None):
    """Flatten the recursive document tree to rows — SURVEY §1.5's
    DataTree surfaced relationally (VERDICT r2 #10): archives expand
    into child rows instead of concatenated text, so archive/e-mail
    children are queryable (parent_url, depth) like any other table.

    Returns [(url, parent_url, depth, mime, n_chars, error), ...] in
    parent-before-children order.  Leaf documents run the normal
    ``extract`` (n_chars = len(extracted bytes)); archive nodes carry
    n_chars None; mail documents (eml/pst) are extracted normally
    (n_chars covers the full render, attachments inlined) AND their
    attachments additionally surface as child rows via the walkers'
    child sink; a failing subtree yields an error row, never raises.
    """
    from docwire_spark.kernel.archive_extract import (
        ARCHIVE_MIMES, MAX_DEPTH, iter_entries,
    )

    if max_depth is None:
        max_depth = MAX_DEPTH
    mail_mimes = EML_MIMES | {"application/vnd.ms-outlook-pst"}
    rows = []

    def walk(payload, u, parent, depth):
        mime, _conf = detect_mime(payload[:SNIFF_PREFIX_BYTES], u)
        if mime in ARCHIVE_MIMES and depth < max_depth:
            idx = len(rows)
            rows.append((u, parent, depth, mime, None, None))
            try:
                for name, child in iter_entries(payload, mime, u):
                    walk(child, name, u, depth + 1)
            except Exception as exc:
                rows[idx] = (
                    u, parent, depth, mime, None,
                    f"{type(exc).__name__}: {exc}",
                )
        elif mime in mail_mimes and depth < max_depth:
            sink: list = []
            token = E.CHILD_SINK.set(sink)
            try:
                res = extract(payload, url=u)
            finally:
                E.CHILD_SINK.reset(token)
            rows.append((
                u, parent, depth, res.mime,
                len(res.text) if res.error is None else None,
                res.error,
            ))
            for name, child in sink:
                walk(child, name, u, depth + 1)
        else:
            res = extract(payload, url=u)
            rows.append((
                u, parent, depth, res.mime,
                len(res.text) if res.error is None else None,
                res.error,
            ))

    walk(data, url, None, 0)
    return rows
