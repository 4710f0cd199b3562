"""HTML text -> document-element event stream.

Replicates the reference's DOM walk and whitespace state machine
(reference: src/html_parser.cpp:406-871) byte-for-byte:

- per text node: ASCII ``\\s+`` -> single space (U+00A0 and all other
  non-ASCII whitespace survive; the C++ std::regex there is ASCII-only
  on bytes, verified by tests/html_parser_tests.cpp U+00A0 case)
- trim-left when the previous char in the inline formatting context is
  an ASCII space or the context is empty
- text is buffered and flushed at every tag; block-level/table tags
  right-trim the buffer and reset the context
- head text suppressed except <style>; <title>/<script>/<iframe>
  content suppressed; CSS ``list-style: none`` on ol/ul/li disables
  list enumeration (the LibreOffice export quirk)

These rules live in one emitter, :class:`_Emitter`: ``dom.TreeBuilder``
calls its ``open`` / ``text`` / ``close`` from the tokenizer loop and
walks the head and each table region through them once built, so every
event goes through the same ``buffered`` / ``last_char`` state in
document order.
"""

from __future__ import annotations

import re

from docwire_spark.kernel import events as E
from docwire_spark.kernel.dates import parse_iso8601_or_legacy
from docwire_spark.kernel.dom import TreeBuilder

#: runs of ASCII whitespace other than a lone space (collapsing a lone
#: space to a space is a no-op, and skipping those matches makes the
#: substitution ~2x cheaper on prose)
_ASCII_WS_RUN = re.compile(r"[\t\n\r\f\v][ \t\n\r\f\v]*| [ \t\n\r\f\v]+")
_ASCII_WS = " \t\n\r\f\v"

BLOCK_LEVEL = frozenset(
    "address article aside blockquote details dialog dd div dl dt "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr li main nav ol p pre section table ul html body".split()
)
TABLE_ELEMENTS = frozenset("td tr th caption thead tbody tfoot".split())
PARAGRAPH_ELEMENTS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6", "p"))


def parse_css_list_style(style_text: str):
    """Scan CSS for ``<sel> { list-style: none }`` on li/ul/ol
    (reference html_parser.cpp:406-464, same scanning logic)."""
    turn_off_ul = turn_off_ol = False
    search = 0
    while True:
        found = style_text.find("list-style:", search)
        if found == -1:
            break
        search = found + 11
        style_name = []
        i = found + 11
        while i < len(style_text):
            ch = style_text[i]
            if ch == ";":
                break
            if not ch.isspace():
                style_name.append(ch)
            i += 1
            search += 1
        if "".join(style_name) == "none":
            match_index = 0
            for i in range(found, 0, -1):
                if style_text[i] == "{":
                    match_index = i - 1
                    break
            match = ""
            while match_index >= 0:
                ch = style_text[match_index]
                if ch.isspace():
                    if match:
                        break
                else:
                    match = ch + match
                match_index -= 1
            if match == "li":
                turn_off_ol = turn_off_ul = True
            elif match == "ul":
                turn_off_ul = True
            elif match == "ol":
                turn_off_ol = True
    return turn_off_ul, turn_off_ol


def decode_data_url(src):
    """Decode a base64 ``data:`` URL into (mime, bytes), or None.

    Reference semantics (src/html_parser.cpp:354-377
    ``create_image_source``): require a comma, require ';base64' in
    the pre-comma metadata, reject empty payloads; the mime is the
    metadata up to the first ';' with an octet-stream default.  The
    reference throws on malformed URLs and the caller degrades to the
    alt text — returning None models the same recovery."""
    if not src or not src.startswith("data:"):
        return None
    comma = src.find(",")
    if comma < 0:
        return None
    meta = src[5:comma]
    if ";base64" not in meta:
        return None
    import base64

    try:
        data = base64.b64decode(src[comma + 1:])
    except (ValueError, TypeError):
        return None
    if not data:
        return None
    semi = meta.find(";")
    mime = meta[:semi] if semi > 0 else "application/octet-stream"
    return (mime or "application/octet-stream", data)


def _styling(attrs):
    """Capture (classes, id, style) from an element's attributes
    (reference html_parser.cpp:50-71: class split on single spaces,
    style whitespace-trimmed).  None when all empty — the common case,
    keeping event tuples cheap inside Arrow batches."""
    class_str = attrs.get("class")
    classes = class_str.split(" ") if class_str else []
    id_ = attrs.get("id") or ""
    style = (attrs.get("style") or "").strip()
    if not classes and not id_ and not style:
        return None
    return (classes, id_, style)


def _handle_meta(meta, attrs):
    name = attrs.get("name")
    content = attrs.get("content")
    if not name or content is None:
        return
    lname = name.lower()
    if lname in ("author", "dcterms.creator"):
        meta["author"] = content
    elif lname in ("changedby", "dcterms.contributor"):
        meta.setdefault("last_modified_by", content)
    elif lname in ("created", "dcterms.issued"):
        dt = parse_iso8601_or_legacy(content)
        if dt is not None:
            meta["creation_date"] = dt
    elif lname in ("changed", "dcterms.modified"):
        if "last_modification_date" not in meta:
            dt = parse_iso8601_or_legacy(content)
            if dt is not None:
                meta["last_modification_date"] = dt


def _link_event(attrs):
    url = attrs.get("href")
    if url is not None:
        if url[:1] == "#" or url.startswith("javascript"):
            url = ""
    else:
        url = ""
    return (E.LINK, (url, _styling(attrs)))


def _image_event(attrs):
    src = attrs.get("src")
    ocr_text = None
    decoded = decode_data_url(src)
    if decoded is not None:
        from docwire_spark.kernel.ocr import ocr_image

        ocr_text = ocr_image(decoded[1])
    return (E.IMAGE, (attrs.get("alt"), ocr_text, src, _styling(attrs)))


def _list_event(name, attrs, turn_off_ul, turn_off_ol):
    style_attr = attrs.get("style")
    if style_attr is not None:
        style_type_none = "list-style: none" in style_attr
    else:
        style_type_none = turn_off_ol if name == "ol" else turn_off_ul
    list_type = "none" if style_type_none else ("decimal" if name == "ol" else "disc")
    return (E.LIST, (list_type, _styling(attrs)))


#: elements whose opening is one (kind, styling) event
_OPEN_KINDS = {
    **dict.fromkeys(PARAGRAPH_ELEMENTS, E.PARAGRAPH),
    "div": E.SECTION, "span": E.SPAN, "table": E.TABLE,
    "caption": E.CAPTION, "tr": E.TABLE_ROW, "td": E.TABLE_CELL,
    "th": E.TABLE_CELL, "li": E.LIST_ITEM, "b": E.BOLD, "u": E.UNDERLINE,
}
#: their attribute-free opening events (shared tuples)
_OPEN_EVENTS = {name: (kind, None) for name, kind in _OPEN_KINDS.items()}
#: elements whose closing is one payload-free event (shared tuples)
_CLOSE_EVENTS = {
    name: (kind, None)
    for name, kind in {
        **dict.fromkeys(PARAGRAPH_ELEMENTS, E.CLOSE_PARAGRAPH),
        "div": E.CLOSE_SECTION, "span": E.CLOSE_SPAN, "a": E.CLOSE_LINK,
        "table": E.CLOSE_TABLE, "caption": E.CLOSE_CAPTION,
        "tr": E.CLOSE_TABLE_ROW, "td": E.CLOSE_TABLE_CELL,
        "th": E.CLOSE_TABLE_CELL, "ul": E.CLOSE_LIST, "ol": E.CLOSE_LIST,
        "li": E.CLOSE_LIST_ITEM, "b": E.CLOSE_BOLD, "u": E.CLOSE_UNDERLINE,
    }.items()
}
#: tags at which buffered text is right-trimmed and the inline
#: formatting context reset
_BLOCK_FLUSH = BLOCK_LEVEL | TABLE_ELEMENTS
#: last characters after which a text node is left-trimmed ("\0" = the
#: inline formatting context is empty)
_LSTRIP_AFTER = _ASCII_WS + "\0"


class _Emitter:
    """The DOM walk's rules as an event sink.  ``mute`` counts the open
    elements whose text is not rendered (the head, title, script,
    iframe, style); style text is kept for its STYLE event."""

    __slots__ = ("events", "emit", "meta", "buffered", "last_char", "mute",
                 "in_style", "style_text", "turn_off_ul", "turn_off_ol")

    def __init__(self):
        self.events = [(E.DOCUMENT, None)]
        self.emit = self.events.append
        self.meta = {}
        self.buffered, self.last_char, self.mute = "", "\0", 1
        self.in_style, self.style_text = False, []
        self.turn_off_ul = self.turn_off_ol = False

    def text(self, cur):
        if self.mute:
            if self.in_style:
                self.style_text.append(cur)
            return
        if self.last_char in _LSTRIP_AFTER:
            cur = cur.lstrip(_ASCII_WS)
        if not cur:
            # trimmed away, or "" from a char ref to an invalid code point
            return
        # the substitution stops at every space, so a run whose only
        # foldable whitespace is its trailing spaces ("  text  </p>",
        # most crawl text runs and nearly all their characters) folds
        # them without it: ~16% of the kernel on the benchmark pages
        core = cur.rstrip(" ")
        if ("  " in core or "\n" in core or "\t" in core or "\r" in core
                or "\f" in core or "\v" in core):
            cur = _ASCII_WS_RUN.sub(" ", cur)
        elif len(core) < len(cur) - 1:
            cur = core + " "
        self.last_char = cur[-1]
        self.buffered += cur

    def _flush(self, name):
        buffered = self.buffered
        if name in _BLOCK_FLUSH:
            buffered = buffered.rstrip(_ASCII_WS)
            self.last_char = "\0"
        if buffered:
            self.emit((E.TEXT, buffered))
        self.buffered = ""

    def open(self, name, attrs):
        if self.buffered:
            self._flush(name)
        kind = _OPEN_KINDS.get(name)
        if kind is not None:
            self.emit((kind, _styling(attrs)) if attrs else _OPEN_EVENTS[name])
        elif name == "a":
            self.emit(_link_event(attrs))
        elif name == "br":
            self.last_char = "\0"
            self.emit((E.BREAK_LINE, _styling(attrs) if attrs else None))
        elif name == "ul" or name == "ol":
            self.emit(_list_event(name, attrs, self.turn_off_ul,
                                  self.turn_off_ol))
        elif name == "img":
            self.emit(_image_event(attrs))
        elif name == "style":
            self.in_style = True
            self.mute += 1
        elif name == "title" or name == "script" or name == "iframe":
            self.mute += 1
        elif name == "meta":
            _handle_meta(self.meta, attrs)

    def close(self, name):
        if self.buffered:
            self._flush(name)
        ev = _CLOSE_EVENTS.get(name)
        if ev is not None:
            self.emit(ev)
        elif name == "style":
            self.in_style = False
            self.mute -= 1
            self.emit((E.STYLE, "".join(self.style_text)))
            self.style_text = []
        elif name == "title" or name == "script" or name == "iframe":
            self.mute -= 1

    def walk(self, children):
        """Emit finished subtrees.  Iterative (a stack of children
        iterators): crawl pages nest thousands of elements deep, far
        past Python's recursion limit."""
        text, open_, close = self.text, self.open, self.close
        stack = []
        it = iter(children)
        while True:
            for cur in it:
                if type(cur) is str:
                    text(cur)
                else:
                    open_(cur.name, cur.attrs)
                    stack.append((it, cur.name))
                    it = iter(cur.children)
                    break
            else:
                if not stack:
                    return
                it, name = stack.pop()
                close(name)

    def end_head(self, head):
        """The head is complete: its text (its CSS) decides list
        enumeration for the whole page, then its elements are walked."""
        head_text = head.text_content()
        if head_text:
            self.turn_off_ul, self.turn_off_ol = parse_css_list_style(head_text)
        self.walk((head,))
        self.mute -= 1


def html_to_events(text: str):
    """Parse HTML (already UTF-8 text) in one pass; returns (events,
    meta dict), the events as reference html_parser::parse gives them:
    document ... close_document."""
    emitter = _Emitter()
    TreeBuilder(emitter).feed(text)
    emitter.emit((E.CLOSE_DOCUMENT, None))
    return emitter.events, emitter.meta
