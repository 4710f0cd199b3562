"""HTML DOM -> document-element event stream.

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

The walk runs over ``dom``'s private DOM (elements are ``dom.Node``,
text children plain ``str``) in one loop with its state in locals;
payload-free closes and (kind, styling) opens come from lookup tables,
and only links, lists, images, line breaks, meta and the suppressing
elements take named branches.
"""

from __future__ import annotations

import re

from docwire_spark.kernel import events as E
from docwire_spark.kernel.dates import parse_iso8601_or_legacy
from docwire_spark.kernel.dom import parse_html

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
    style_type_none = False
    style_attr = attrs.get("style")
    if style_attr is not None:
        if "list-style: none" in style_attr:
            style_type_none = True
    elif name == "ol" and turn_off_ol:
        style_type_none = True
    elif name == "ul" and turn_off_ul:
        style_type_none = True
    list_type = "none" if style_type_none else ("decimal" if name == "ol" else "disc")
    return (E.LIST, (list_type, _styling(attrs)))


#: elements whose opening is one (kind, styling) event
_OPEN_KINDS = {
    **dict.fromkeys(PARAGRAPH_ELEMENTS, E.PARAGRAPH),
    "div": E.SECTION, "span": E.SPAN, "table": E.TABLE,
    "caption": E.CAPTION, "tr": E.TABLE_ROW, "td": E.TABLE_CELL,
    "th": E.TABLE_CELL, "li": E.LIST_ITEM, "b": E.BOLD, "u": E.UNDERLINE,
}
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

# walk markers: the children of the innermost open element are done /
# the walk leaves <head>
_CLOSE = object()
_END_HEAD = object()


def html_to_events(text: str):
    """Parse HTML (already UTF-8 text) and return (events, meta dict).

    Event stream mirrors reference html_parser::parse:
    document ... close_document.  The DOM walk is iterative (a stack
    of children iterators): crawl pages nest thousands of elements
    deep, far past Python's recursion limit — the reference's lexbor
    walk is iterative too.  Walk state lives in locals, and simple
    open/close events dispatch from the tables above.
    """
    head, body = parse_html(text)
    turn_off_ul = turn_off_ol = False
    head_text = head.text_content()
    if head_text:
        turn_off_ul, turn_off_ol = parse_css_list_style(head_text)

    events = [(E.DOCUMENT, None)]
    emit = events.append
    meta = {}
    in_head = True
    in_title = in_script = in_style = False
    style_text = []
    buffered = ""
    last_char = "\0"
    open_names = []
    parents = []  # children iterators of the open elements
    children = iter((head, _END_HEAD, body))
    while True:
        for cur in children:
            if type(cur) is str:
                if in_title or in_script:
                    continue
                if in_style:
                    style_text.append(cur)
                    continue
                if in_head:
                    continue
                if last_char in _LSTRIP_AFTER:
                    cur = cur.lstrip(_ASCII_WS)
                if not cur:
                    # empty after the trim, or empty from the start
                    # (a char ref to an invalid code point unescapes
                    # to "")
                    continue
                cur = _ASCII_WS_RUN.sub(" ", cur)
                last_char = cur[-1]
                buffered += cur
            elif cur is _END_HEAD:
                in_head = False
            else:
                break
        else:
            cur = _CLOSE
        if cur is _CLOSE:
            if not parents:
                break
            children = parents.pop()
            name = open_names.pop()
        else:
            name = cur.name
        if buffered:
            if name in _BLOCK_FLUSH:
                buffered = buffered.rstrip(_ASCII_WS)
                last_char = "\0"
            if buffered:
                emit((E.TEXT, buffered))
                buffered = ""
        if cur is _CLOSE:
            ev = _CLOSE_EVENTS.get(name)
            if ev is not None:
                emit(ev)
            elif name == "style":
                in_style = False
                emit((E.STYLE, "".join(style_text)))
                style_text = []
            elif name == "title":
                in_title = False
            elif name == "script" or name == "iframe":
                in_script = False
            continue
        attrs = cur.attrs
        kind = _OPEN_KINDS.get(name)
        if kind is not None:
            emit((kind, _styling(attrs) if attrs else None))
        elif name == "a":
            emit(_link_event(attrs))
        elif name == "br":
            last_char = "\0"
            emit((E.BREAK_LINE, _styling(attrs) if attrs else None))
        elif name == "ul" or name == "ol":
            emit(_list_event(name, attrs, turn_off_ul, turn_off_ol))
        elif name == "img":
            emit(_image_event(attrs))
        elif name == "style":
            in_style = True
        elif name == "title":
            in_title = True
        elif name == "script" or name == "iframe":
            in_script = True
        elif name == "meta":
            _handle_meta(meta, attrs)
        open_names.append(name)
        parents.append(children)
        children = iter(cur.children)
    emit((E.CLOSE_DOCUMENT, None))
    return events, meta
