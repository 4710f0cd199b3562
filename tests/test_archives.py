"""Archive explode semantics (reference archives_parser.cpp:208-263):
each entry renders as a complete standalone document; outputs
concatenate in entry order; all-failed archives are uninterpretable;
encrypted archives error out."""

import bz2
import gzip
import io
import lzma
import tarfile
import zipfile

from docwire_spark.kernel.api import extract

HTML = b"<html><body><p>hello archive</p></body></html>"
TXT = b"plain text entry"


def _zip(entries):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in entries:
            zf.writestr(name, data)
    return buf.getvalue()


def _tar(entries):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in entries:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_zip_concatenates_standalone_renders():
    data = _zip([("a.html", HTML), ("b.txt", TXT)])
    got = extract(data, url="x.zip")
    assert got.error is None
    expected = extract(HTML, url="a.html").text + extract(TXT, url="b.txt").text
    assert got.text == expected
    assert got.mime == "application/zip"


def test_tar_and_compressors():
    tar = _tar([("a.html", HTML), ("b.txt", TXT)])
    expected = extract(HTML, url="a.html").text + extract(TXT, url="b.txt").text
    assert extract(tar, url="x.tar").text == expected
    assert extract(gzip.compress(tar), url="x.tar.gz").text == expected
    assert extract(bz2.compress(tar), url="x.tar.bz2").text == expected
    assert extract(lzma.compress(tar), url="x.tar.xz").text == expected


def test_gz_single_file_keeps_stripped_name():
    got = extract(gzip.compress(HTML), url="page.html.gz")
    assert got.error is None
    assert got.text == extract(HTML, url="page.html").text


def test_nested_zip():
    inner = _zip([("inner.html", HTML)])
    outer = _zip([("sub/inner.zip", inner), ("top.txt", TXT)])
    got = extract(outer, url="x.zip")
    assert got.error is None
    assert got.text == (
        extract(HTML, url="inner.html").text + extract(TXT, url="b.txt").text
    )


def test_unparseable_entries_skip_but_all_failed_errors():
    junk = b"\x00\x01\x02\x03" * 16
    mixed = _zip([("junk.bin", junk), ("a.html", HTML)])
    got = extract(mixed, url="x.zip")
    assert got.error is None
    assert got.text == extract(HTML, url="a.html").text

    allbad = _zip([("junk.bin", junk)])
    got = extract(allbad, url="x.zip")
    assert got.error is not None  # uninterpretable_data analog


def _zipcrypto_zip(name: str, payload: bytes, password: bytes) -> bytes:
    """One stored entry under traditional PKWARE encryption (APPNOTE
    6.1): a 12-byte encryption header, then the data, both run through
    the CRC-32-keyed stream cipher; general-purpose flag bit 0 set."""
    import struct
    import zlib

    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        table.append(c)
    keys = [0x12345678, 0x23456789, 0x34567890]

    def update(b):
        keys[0] = (keys[0] >> 8) ^ table[(keys[0] ^ b) & 0xFF]
        keys[1] = ((keys[1] + (keys[0] & 0xFF)) * 134775813 + 1) & 0xFFFFFFFF
        keys[2] = (keys[2] >> 8) ^ table[(keys[2] ^ (keys[1] >> 24)) & 0xFF]

    for b in password:
        update(b)
    crc = zlib.crc32(payload)
    plain = bytes(range(11)) + bytes([crc >> 24]) + payload
    cipher = bytearray()
    for b in plain:
        t = keys[2] | 2
        cipher.append(b ^ (((t * (t ^ 1)) >> 8) & 0xFF))
        update(b)
    fname = name.encode()
    fixed = struct.pack("<HHHHHIII", 20, 0x1, 0, 0, 0, crc, len(cipher),
                        len(payload))
    local = b"PK\x03\x04" + fixed + struct.pack("<HH", len(fname), 0) + fname
    central = (b"PK\x01\x02" + struct.pack("<H", 20) + fixed
               + struct.pack("<HHHHHII", len(fname), 0, 0, 0, 0, 0, 0)
               + fname)
    end = struct.pack("<4sHHHHIIH", b"PK\x05\x06", 0, 0, 1, 1,
                      len(central), len(local) + len(cipher), 0)
    return local + bytes(cipher) + central + end


def test_encrypted_zip_errors():
    data = _zipcrypto_zip("1.html", HTML, b"secret")
    # a genuine encrypted archive: zipfile decrypts it with the password
    assert zipfile.ZipFile(io.BytesIO(data)).read("1.html", pwd=b"secret") == HTML
    got = extract(data, url="1_with_password.zip")
    assert got.error is not None and "encrypted" in got.error.lower()


def test_spans_offsets_accumulate():
    data = _zip([("a.html", HTML), ("b.html", HTML)])
    got = extract(data, url="x.zip")
    single = extract(HTML, url="a.html")
    off = len(single.text)
    assert got.spans[: len(single.spans)] == single.spans
    assert got.spans[len(single.spans):] == [
        (s + off, e + off, k) for s, e, k in single.spans
    ]


def test_extract_tree_flattens_nested_archives():
    """extract_tree (SURVEY §1.5 DataTree surfaced relationally):
    parent-before-children rows with parent_url/depth lineage."""
    import io
    import zipfile

    from docwire_spark.kernel.api import extract_tree

    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as z:
        z.writestr("leaf.txt", "deep")
    outer = io.BytesIO()
    with zipfile.ZipFile(outer, "w") as z:
        z.writestr("top.txt", "hello")
        z.writestr("nest.zip", inner.getvalue())
    rows = extract_tree(outer.getvalue(), "https://x/a.zip")
    assert [(u, p, d, m) for u, p, d, m, _, _ in rows] == [
        ("https://x/a.zip", None, 0, "application/zip"),
        ("top.txt", "https://x/a.zip", 1, "text/plain"),
        ("nest.zip", "https://x/a.zip", 1, "application/zip"),
        ("leaf.txt", "nest.zip", 2, "text/plain"),
    ]
    assert rows[1][4] == len(b"hello\n\n")
    # broken child archive -> error row, never a raise
    broken = io.BytesIO()
    with zipfile.ZipFile(broken, "w") as z:
        z.writestr("bad.zip", b"PK\x03\x04not really a zip")
    rows = extract_tree(broken.getvalue(), "b.zip")
    assert any(err is not None for *_, err in rows)


def test_extract_tree_surfaces_mail_children():
    """E-mail attachments become tree rows (the child sink in the
    eml/pst walkers), and nested-mail attachments attach to the inner
    node, not the outer."""
    from docwire_spark.kernel.api import extract_tree

    inner_eml = (
        b"From: i@x\r\nSubject: inner\r\nMIME-Version: 1.0\r\n"
        b"Content-Type: multipart/mixed; boundary=IN\r\n\r\n"
        b"--IN\r\nContent-Type: text/plain; charset=utf-8\r\n\r\nib\r\n"
        b"--IN\r\nContent-Type: text/plain; name=deep.txt\r\n"
        b"Content-Disposition: attachment; filename=deep.txt\r\n\r\ndp\r\n"
        b"--IN--\r\n"
    )
    outer = (
        b"From: o@x\r\nSubject: outer\r\nMIME-Version: 1.0\r\n"
        b"Content-Type: multipart/mixed; boundary=OUT\r\n\r\n"
        b"--OUT\r\nContent-Type: text/plain; charset=utf-8\r\n\r\nob\r\n"
        b"--OUT\r\nContent-Type: message/rfc822; name=fwd.eml\r\n"
        b"Content-Disposition: attachment; filename=fwd.eml\r\n\r\n"
        + inner_eml +
        b"\r\n--OUT--\r\n"
    )
    rows = extract_tree(outer, "o.eml")
    tree = {u: (p, d) for u, p, d, *_ in rows}
    assert tree["o.eml"] == (None, 0)
    assert tree["fwd.eml"] == ("o.eml", 1)
    assert tree["deep.txt"] == ("fwd.eml", 2)
    assert len(rows) == 3


def test_extract_tree_surfaces_pst_attachments():
    from docwire_spark.kernel.api import extract_tree
    from tests.pst_builder import build_ansi_pst

    rows = extract_tree(build_ansi_pst(), "a.pst")
    assert [(u, p, d) for u, p, d, *_ in rows] == [
        ("a.pst", None, 0), ("note.txt", "a.pst", 1),
    ]


def test_multi_member_gz_extracts_all_members():
    # pigz/bgzip emit concatenated gzip members; RFC 1952 says a
    # multi-member file decompresses to the concatenation
    data = gzip.compress(b"hello ") + gzip.compress(b"world")
    assert extract(data, url="x.txt.gz").text == b"hello world\n\n"


def test_truncated_gz_is_a_row_error_not_silent_prefix():
    data = gzip.compress(b"hello world, quite long payload " * 20)[:-10]
    res = extract(data, url="x.txt.gz")
    assert res.error is not None


def test_multi_stream_bz2_and_padding():
    import bz2
    from docwire_spark.kernel.archive_extract import _bounded_decompress

    assert _bounded_decompress(
        bz2.BZ2Decompressor, bz2.compress(b"aa ") + bz2.compress(b"bb")
    ) == b"aa bb"
    # trailing NUL padding after the final member is tolerated
    mk = __import__("functools").partial(
        __import__("zlib").decompressobj, 31
    )
    assert _bounded_decompress(mk, gzip.compress(b"pad") + b"\x00" * 16) \
        == b"pad"
