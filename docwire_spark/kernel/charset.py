"""Charset detection + normalization to UTF-8.

Reproduces the reference's HTML charset pipeline
(reference: src/html_parser.cpp:83-206):

1. WHATWG meta-tag prescan (lexbor ``lxb_html_encoding_determine``)
2. ``<?xml ... encoding="..."?>`` manual scan (html_parser.cpp:104-133)
3. charset-detector guess (Mozilla universalchardet there; BOM check +
   charset_normalizer here)
4. default UTF-8

Conversion is a no-op when the charset is already utf-8
(case-insensitive), and any BOM character survives conversion (iconv
behavior, verified by the reference's utf16_with_bom golden which keeps
U+FEFF as EF BB BF in the UTF-8 output).
"""

from __future__ import annotations

import codecs

_ASCII_WS = b"\t\n\x0c\r "


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n and data[i : i + 1] in (b"\t", b"\n", b"\x0c", b"\r", b" "):
        i += 1
    return i


def _get_attribute(data: bytes, i: int):
    """WHATWG 'get an attribute' for the encoding prescan.

    Returns (name_lower: bytes, value_lower: bytes, next_pos) or
    (None, None, pos) when no attribute can be read at ``i``.
    """
    n = len(data)
    while i < n and (data[i : i + 1] in (b"\t", b"\n", b"\x0c", b"\r", b" ", b"/")):
        i += 1
    if i >= n or data[i : i + 1] == b">":
        return None, None, i
    name = bytearray()
    value = bytearray()
    # attribute name
    while i < n:
        c = data[i : i + 1]
        if c == b"=" and name:
            i += 1
            break
        if c in (b"\t", b"\n", b"\x0c", b"\r", b" "):
            i = _skip_ws(data, i)
            if i < n and data[i : i + 1] == b"=":
                i += 1
                break
            return bytes(name).lower(), b"", i
        if c in (b"/", b">"):
            return bytes(name).lower(), b"", i
        name += c.lower()
        i += 1
    else:
        return bytes(name).lower(), b"", i
    # attribute value
    i = _skip_ws(data, i)
    if i < n and data[i : i + 1] in (b'"', b"'"):
        q = data[i : i + 1]
        i += 1
        while i < n and data[i : i + 1] != q:
            value += data[i : i + 1].lower()
            i += 1
        i += 1
        return bytes(name).lower(), bytes(value), i
    while i < n and data[i : i + 1] not in (b"\t", b"\n", b"\x0c", b"\r", b" ", b">"):
        value += data[i : i + 1].lower()
        i += 1
    return bytes(name).lower(), bytes(value), i


def _extract_charset_from_content(content: bytes):
    """WHATWG 'extract a character encoding from a meta element'."""
    lower = content.lower()
    pos = 0
    while True:
        idx = lower.find(b"charset", pos)
        if idx == -1:
            return None
        i = _skip_ws(content, idx + len(b"charset"))
        if i < len(content) and content[i : i + 1] == b"=":
            i = _skip_ws(content, i + 1)
            if i >= len(content):
                return None
            c = content[i : i + 1]
            if c in (b'"', b"'"):
                end = content.find(c, i + 1)
                if end == -1:
                    return None
                return content[i + 1 : end].decode("ascii", "replace").strip()
            end = i
            while end < len(content) and content[end : end + 1] not in (
                b"\t", b"\n", b"\x0c", b"\r", b" ", b";",
            ):
                end += 1
            return content[i:end].decode("ascii", "replace").strip() or None
        pos = idx + len(b"charset")


def encoding_from_meta_tags(data: bytes):
    """WHATWG encoding prescan over the whole buffer (lexbor scans the
    full range it is given, reference html_parser.cpp:95)."""
    # every declaration path requires the literal token "charset"
    # (either the charset attribute or charset= inside the http-equiv
    # content value): reject cheaply before the per-tag walk — ~10% of
    # whole-document extraction time on charset-less pages
    if b"charset" not in data and b"charset" not in data.lower():
        return None
    n = len(data)
    i = 0
    while i < n:
        i = data.find(b"<", i)
        if i == -1:
            return None
        if data[i : i + 4] == b"<!--":
            end = data.find(b"-->", i + 2)
            if end == -1:
                return None
            i = end + 3
            continue
        chunk = data[i : i + 6].lower()
        if chunk.startswith(b"<meta") and (
            len(chunk) > 5 and chunk[5:6] in (b"\t", b"\n", b"\x0c", b"\r", b" ", b"/")
        ):
            j = i + 6
            got_pragma = False
            need_pragma = None
            charset = None
            attrs_seen = set()
            while True:
                name, value, j = _get_attribute(data, j)
                if name is None:
                    break
                if name in attrs_seen:
                    continue
                attrs_seen.add(name)
                if name == b"http-equiv":
                    if value == b"content-type":
                        got_pragma = True
                elif name == b"content":
                    if charset is None:
                        cs = _extract_charset_from_content(value)
                        if cs:
                            charset = cs
                            need_pragma = True
                elif name == b"charset":
                    charset = value.decode("ascii", "replace").strip()
                    need_pragma = False
            if charset is not None and (need_pragma is False or got_pragma):
                return charset
            i = j + 1
            continue
        if data[i : i + 2] in (b"<!", b"</", b"<?"):
            end = data.find(b">", i + 2)
            if end == -1:
                return None
            i = end + 1
            continue
        # a start tag: skip past attributes
        nxt = data[i + 1 : i + 2]
        if nxt.isalpha():
            j = i + 1
            while j < n and data[j : j + 1] not in (
                b"\t", b"\n", b"\x0c", b"\r", b" ", b">",
            ):
                j += 1
            while True:
                name, _value, j = _get_attribute(data, j)
                if name is None:
                    break
            i = j + 1
            continue
        i += 1
    return None


def encoding_from_xml_declaration(data: bytes):
    """Manual ``<?xml ... encoding=".."?>`` scan
    (reference html_parser.cpp:104-133, byte-for-byte logic)."""
    start = data.find(b"<?xml")
    end = data.find(b"?>")
    if start == -1 or end == -1 or end <= start or end >= len(data):
        return None
    initial = data[start:end].lower()
    pos = initial.find(b"encoding")
    if pos == -1:
        return None
    pos += 7
    while pos < len(initial) and initial[pos : pos + 1] != b'"':
        pos += 1
    pos += 1
    out = bytearray()
    while pos < len(initial) and initial[pos : pos + 1] != b'"':
        out += initial[pos : pos + 1]
        pos += 1
    return out.decode("ascii", "replace")


def guess_encoding(data: bytes):
    """Charset-detector stage. BOMs are deterministic; otherwise fall
    back to charset_normalizer (same lineage of statistical detection
    as the reference's universalchardet)."""
    if data.startswith(b"\xff\xfe\x00\x00"):
        return "utf-32-le"
    if data.startswith(b"\x00\x00\xfe\xff"):
        return "utf-32-be"
    if data.startswith(b"\xff\xfe"):
        return "utf-16-le"
    if data.startswith(b"\xfe\xff"):
        return "utf-16-be"
    if data.startswith(b"\xef\xbb\xbf"):
        return "utf-8"
    # fast path: strict-valid UTF-8 is UTF-8 (C-speed check).  Disjoint
    # from the GB18030 signature below — a GB 4-byte sequence needs an
    # ASCII digit after a >=0x81 lead byte, which valid UTF-8 forbids —
    # and charset_normalizer returns utf-8 for such input anyway, so
    # this changes no results; it only skips two O(n) pure-python scans
    # that dominated extraction cost on large documents.
    try:
        data.decode("utf-8", "strict")
        return "utf-8"
    except UnicodeDecodeError:
        pass
    if _looks_like_gb18030(data):
        return "gb18030"
    try:
        from charset_normalizer import from_bytes

        best = from_bytes(bytes(data)).best()
        if best is not None:
            return best.encoding
    except Exception:
        pass
    return None


def _looks_like_gb18030(data: bytes) -> bool:
    """Deterministic GB18030 check: the distinctive 4-byte sequences
    [81-FE][30-39][81-FE][30-39] plus a clean full decode.  Mirrors the
    reference detector's ability to identify GB18030
    (universalchardet; golden gb18030_without_bom.text)."""
    n = len(data)
    if n == 0:
        return False
    i = 0
    four_byte_seqs = 0
    while i < n:
        b = data[i]
        if b < 0x80:
            i += 1
            continue
        if 0x81 <= b <= 0xFE and i + 3 < n and 0x30 <= data[i + 1] <= 0x39:
            if 0x81 <= data[i + 2] <= 0xFE and 0x30 <= data[i + 3] <= 0x39:
                four_byte_seqs += 1
                i += 4
                continue
            return False
        if 0x81 <= b <= 0xFE and i + 1 < n and (
            0x40 <= data[i + 1] <= 0xFE and data[i + 1] != 0x7F
        ):
            i += 2
            continue
        return False
    if four_byte_seqs == 0:
        return False
    try:
        data.decode("gb18030", "strict")
        return True
    except UnicodeDecodeError:
        return False


_CODEC_ALIASES = {
    "x-user-defined": "windows-1252",
    "unicode": "utf-16-le",
    "iso-8859-8-i": "iso-8859-8",
}


def resolve_codec(label: str):
    """Map an encoding label (WHATWG / iconv style) to a Python codec
    name, or None when unknown."""
    label = (label or "").strip().lower()
    if not label:
        return None
    label = _CODEC_ALIASES.get(label, label)
    try:
        return codecs.lookup(label).name
    except LookupError:
        try:
            return codecs.lookup(label.replace("-", "_")).name
        except LookupError:
            return None


def determine_html_encoding(data: bytes):
    """meta prescan -> xml decl -> guess; None when nothing matched
    (reference html_parser.cpp:152-178)."""
    cs = encoding_from_meta_tags(data)
    if cs:
        return cs
    cs = encoding_from_xml_declaration(data)
    if cs:
        return cs
    return guess_encoding(data)


def to_utf8_text(data: bytes, label) -> str:
    """Decode ``data`` according to ``label`` the way the reference's
    iconv conversion behaves: no-op for utf-8 (bytes kept verbatim,
    surrogateescape preserves them round-trip), BOM character kept."""
    codec = resolve_codec(label) if label else None
    if codec is None or codec in ("utf-8", "utf8"):
        return data.decode("utf-8", "surrogateescape")
    try:
        return data.decode(codec, "strict")
    except (UnicodeDecodeError, LookupError):
        # iconv failure leaves the content unconverted in the reference
        return data.decode("utf-8", "surrogateescape")


def ensure_html_utf8(data: bytes) -> str:
    label = determine_html_encoding(data)
    return to_utf8_text(data, label or "UTF-8")
