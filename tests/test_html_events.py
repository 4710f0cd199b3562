"""Event-stream unit tests mirroring the reference's
tests/html_parser_tests.cpp (table, whitespaces, encoding, lists,
misplaced_tags cases)."""

from docwire_spark.kernel import events as E
from docwire_spark.kernel.charset import ensure_html_utf8
from docwire_spark.kernel.html_extract import html_to_events


def events_of(html_bytes: bytes):
    evs, _meta = html_to_events(ensure_html_utf8(html_bytes))
    return evs


def kinds_and_texts(evs):
    # LINK/LIST payloads are (url|type, styling) tuples — compare on
    # the first element; styling pass-through is covered separately
    out = []
    for k, p in evs:
        if k in (E.TEXT, E.STYLE):
            out.append((k, p))
        elif k in (E.LINK, E.LIST):
            out.append((k, p[0] if isinstance(p, tuple) else p))
        else:
            out.append(k)
    return out


def test_table_events():
    html = (
        b"<table>"
        b"<caption>Table caption</caption>"
        b"<thead><tr><th>Header 1</th><th>Header 2</th></tr></thead>"
        b"<tbody>"
        b"<tr><td>Row 1 Cell 1</td><td>Row 1 Cell 2</td></tr>"
        b"<tr><td>Row 2 Cell 1</td><td>Row 2 Cell 2</td></tr>"
        b"</tbody>"
        b"<tfoot><tr><td>Footer 1</td><td>Footer 2</td></tr></tfoot>"
        b"</table>"
    )
    assert kinds_and_texts(events_of(html)) == [
        E.DOCUMENT,
        E.TABLE,
        E.CAPTION, (E.TEXT, "Table caption"), E.CLOSE_CAPTION,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "Header 1"), E.CLOSE_TABLE_CELL,
        E.TABLE_CELL, (E.TEXT, "Header 2"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "Row 1 Cell 1"), E.CLOSE_TABLE_CELL,
        E.TABLE_CELL, (E.TEXT, "Row 1 Cell 2"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "Row 2 Cell 1"), E.CLOSE_TABLE_CELL,
        E.TABLE_CELL, (E.TEXT, "Row 2 Cell 2"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "Footer 1"), E.CLOSE_TABLE_CELL,
        E.TABLE_CELL, (E.TEXT, "Footer 2"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.CLOSE_TABLE,
        E.CLOSE_DOCUMENT,
    ]


def test_whitespace_events():
    html = (
        b"<div>\n"
        b"\t <p> Paragraph </p> \n"
        b"\t <p>  Paragraph   with   many   spaces   </p>\n"
        b"   <p>Paragraph&nbsp;with&nbsp;non-breaking&nbsp;spaces</p>\n"
        b"</div>\n"
        b"<table>\n"
        b"\t<caption> Table caption </caption>\n"
        b"\t<tr>\n"
        b"\t\t<td> Table cell </td>\n"
        b"\t</tr>\n"
        b"</table>\n"
    )
    assert kinds_and_texts(events_of(html)) == [
        E.DOCUMENT,
        E.SECTION,
        E.PARAGRAPH, (E.TEXT, "Paragraph"), E.CLOSE_PARAGRAPH,
        E.PARAGRAPH, (E.TEXT, "Paragraph with many spaces"), E.CLOSE_PARAGRAPH,
        E.PARAGRAPH,
        (E.TEXT, "Paragraph with non-breaking spaces"),
        E.CLOSE_PARAGRAPH,
        E.CLOSE_SECTION,
        E.TABLE,
        E.CAPTION, (E.TEXT, "Table caption"), E.CLOSE_CAPTION,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "Table cell"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.CLOSE_TABLE,
        E.CLOSE_DOCUMENT,
    ]


def test_encoding_variants():
    cases = [
        b'<html><head><meta charset="cp1250"></head><body><p>'
        b"\xb9\x9c\xe6\xb3\xf3\xbf\xb3</p></body></html>",
        b'<html><head><meta http-equiv="Content-Type" content="text/html; '
        b'charset=cp1250"></head><body><p>'
        b"\xb9\x9c\xe6\xb3\xf3\xbf\xb3</p></body></html>",
        b'<?xml version="1.0" encoding="cp1250"?>'
        b'<html xmlns="http://www.w3.org/1999/xhtml"><head></head><body><p>'
        b"\xb9\x9c\xe6\xb3\xf3\xbf\xb3</p></body></html>",
        "<html><body><p>ąśćłóżł</p></body></html>".encode("utf-8"),
    ]
    for html in cases:
        assert kinds_and_texts(events_of(html)) == [
            E.DOCUMENT,
            E.PARAGRAPH, (E.TEXT, "ąśćłóżł"), E.CLOSE_PARAGRAPH,
            E.CLOSE_DOCUMENT,
        ], html[:60]


def test_list_events():
    html = (
        b"<ul><li>Item 1</li><li>Item 2</li></ul>"
        b"<ol><li>Item 3</li><li>Item 4</li></ol>"
        b'<ul style="list-style: none"><li>Item 5</li><li>Item 6</li></ul>'
    )
    assert kinds_and_texts(events_of(html)) == [
        E.DOCUMENT,
        (E.LIST, "disc"),
        E.LIST_ITEM, (E.TEXT, "Item 1"), E.CLOSE_LIST_ITEM,
        E.LIST_ITEM, (E.TEXT, "Item 2"), E.CLOSE_LIST_ITEM,
        E.CLOSE_LIST,
        (E.LIST, "decimal"),
        E.LIST_ITEM, (E.TEXT, "Item 3"), E.CLOSE_LIST_ITEM,
        E.LIST_ITEM, (E.TEXT, "Item 4"), E.CLOSE_LIST_ITEM,
        E.CLOSE_LIST,
        (E.LIST, "none"),
        E.LIST_ITEM, (E.TEXT, "Item 5"), E.CLOSE_LIST_ITEM,
        E.LIST_ITEM, (E.TEXT, "Item 6"), E.CLOSE_LIST_ITEM,
        E.CLOSE_LIST,
        E.CLOSE_DOCUMENT,
    ]


def test_misplaced_tags():
    """Foster parenting + fix_dom ordering (reference misplaced_tags)."""
    html = (
        b"<html>\n"
        b"\t<body>\n"
        b"\t\t<title>title1</title>\n"
        b"\t\t<table>\n"
        b"\t\t<title>title2</title>\n"
        b"\t\t<style>css content</style>\n"
        b"\t\t<tr><td>cell1</td></tr>\n"
        b"\t\t<p>paragraph1</p>\n"
        b"\t\t<tr><p>paragraph2</p><td>cell2</td></tr>\n"
        b"\t</table>\n"
        b"\t</body>\n"
        b"</html>\n"
    )
    assert kinds_and_texts(events_of(html)) == [
        E.DOCUMENT,
        E.PARAGRAPH, (E.TEXT, "paragraph1"), E.CLOSE_PARAGRAPH,
        E.PARAGRAPH, (E.TEXT, "paragraph2"), E.CLOSE_PARAGRAPH,
        (E.STYLE, "css content"),
        E.TABLE,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "cell1"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.TABLE_ROW,
        E.TABLE_CELL, (E.TEXT, "cell2"), E.CLOSE_TABLE_CELL,
        E.CLOSE_TABLE_ROW,
        E.CLOSE_TABLE,
        E.CLOSE_DOCUMENT,
    ]


def test_link_stripping_and_br():
    html = (
        b'<p><a href="#frag">anchor</a>'
        b'<a href="javascript:void(0)">js</a>'
        b'<a href="http://x.example/">ok</a><br>tail</p>'
    )
    evs = events_of(html)
    links = [p[0] for k, p in evs if k == E.LINK]
    assert links == ["", "", "http://x.example/"]
    assert (E.BREAK_LINE, None) in evs


def test_script_iframe_title_suppressed():
    html = (
        b"<html><head><title>T</title></head><body>"
        b"<script>var x = 1;</script><iframe>inner</iframe><p>visible</p>"
        b"</body></html>"
    )
    evs = events_of(html)
    texts = [p for k, p in evs if k == E.TEXT]
    assert texts == ["visible"]


def test_char_ref_to_invalid_code_point_is_empty_text():
    # html.unescape turns refs to invalid code points (&#1;, &#127;,
    # &#xFFFF;, ...) into "", so the walk meets empty text children
    # after an inline element, where no left-trim applies
    from docwire_spark.kernel.api import extract

    for html, text in (
        (b"<p>a<span>x</span>&#1;</p>", b"ax\n\n"),
        (b"<p>a<span>x</span>&#1;&#127; y</p>", b"ax y\n\n"),
        (b"<p>a<b>x</b>&#xFFFF;</p><p>b</p>", b"ax\nb\n\n"),
    ):
        res = extract(html, url="t.html")
        assert res.error is None
        assert res.text == text
