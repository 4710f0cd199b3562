"""Event stream -> plain text bytes.

A from-scratch reimplementation of the reference's plain-text rendering
rules (reference: src/plain_text_writer.cpp:119-607,
src/plain_text_exporter.cpp:39-61, defaults plain_text_exporter.h:35-56):

- eol = ``\\n``; link opening renders ``<url>`` (engaged-but-empty url
  renders ``<>``), link closing renders nothing
- ``close_paragraph``/``close_section`` -> eol, suppressed in list mode
- lists: open -> eol; item prefix ``N. `` / ``* `` / ``''`` (none) /
  literal type; close item -> eol + counter++
- tables: events buffered between table..close_table; nested tables are
  pre-rendered into the current cell; grid render uses one global
  column width = min(max cell line width, 1000) measured in BYTES,
  2-space gutter between columns, every cell line right-padded
- footer content buffered and emitted at close_document
- close_document -> eol + footer

Everything here operates on **bytes** because the reference's width
math and truncation are byte-based (std::string sizes on UTF-8 data —
verified against tests/8.html.out where bullet/nbsp widths only work
out in bytes).
"""

from __future__ import annotations

import time as _time

from docwire_spark.kernel import events as E

COLUMN_WIDTH_LIMIT = 1000


def _format_link_opening(url) -> bytes:
    if url is None:
        return b""
    return b"<" + url.encode("utf-8", "surrogateescape") + b">"


class _Cell:
    __slots__ = ("writer", "result", "lines")

    def __init__(self, eol):
        self.writer = PlainTextRenderer(eol=eol)
        self.result = b""
        self.lines = []

    def write_bytes(self, s: bytes):
        self.result += s
        eol = self.writer.eol
        self.lines = []
        prev = 0
        while True:
            pos = self.result.find(eol, prev)
            if pos == -1:
                break
            self.lines.append(self.result[prev:pos])
            prev = pos + len(eol)
        if prev < len(self.result):
            self.lines.append(self.result[prev:])

    def write_event(self, ev):
        before = self.writer.stream_len()
        self.writer.feed(ev)
        self.write_bytes(self.writer.take_from(before))

    def width(self) -> int:
        return max((len(l) for l in self.lines), default=0)

    def height(self) -> int:
        return len(self.lines)

    def get_line(self, idx: int) -> bytes:
        return self.lines[idx] if idx < len(self.lines) else b""


class PlainTextRenderer:
    """Stateful event renderer (one instance per document or per cell)."""

    def __init__(self, eol: bytes = b"\n"):
        self.eol = eol
        self._chunks = []
        self._footer_chunks = []
        self.level = 0
        self.msgs = []
        self.list_type = ""
        self.list_counter = 1
        self.list_mode = False
        self.header_mode = False
        self.footer_mode = False
        self.table = []  # list of rows; row = list of _Cell
        self.caption_writer = None
        self.caption_mode = False
        self.nested_docs = 0
        self.spans = []  # (start, end, kind) byte offsets into the output
        self._len = 0

    # -- stream helpers --------------------------------------------------
    def stream_len(self) -> int:
        return self._len

    def take_from(self, offset: int) -> bytes:
        out = b"".join(self._chunks)
        assert len(out) == self._len
        taken = out[offset:]
        return taken

    def _write(self, data: bytes, kind=None):
        if not data:
            return
        if self.footer_mode:
            self._footer_chunks.append(data)
            return
        if kind is not None:
            self.spans.append((self._len, self._len + len(data), kind))
        self._chunks.append(data)
        self._len += len(data)

    def result(self) -> bytes:
        return b"".join(self._chunks)

    # -- table machinery (reference plain_text_writer.cpp:442-590) -------
    def _render_table(self) -> bytes:
        result = b""
        if self.caption_writer is not None:
            result += self.caption_writer.result() + self.eol
        max_column_width = 0
        for row in self.table:
            for cell in row:
                w = cell.width()
                if w > max_column_width:
                    max_column_width = w
        if max_column_width > COLUMN_WIDTH_LIMIT:
            max_column_width = COLUMN_WIDTH_LIMIT
        out = []
        for row in self.table:
            max_row_height = 1
            for cell in row:
                h = cell.height()
                if h > max_row_height:
                    max_row_height = h
            ncols = len(row)
            for i in range(max_row_height):
                parts = []
                for j in range(ncols):
                    line = row[j].get_line(i)
                    if len(line) > COLUMN_WIDTH_LIMIT:
                        line = line[:COLUMN_WIDTH_LIMIT]
                    parts.append(line)
                    right_margin = 2 if j < ncols - 1 else 0
                    parts.append(b" " * (max_column_width - len(line) + right_margin))
                parts.append(self.eol)
                out.append(b"".join(parts))
        return result + b"".join(out)

    def _create_table(self) -> bytes:
        msgs = self.msgs
        i = 0
        n = len(msgs)
        while i < n:
            kind, payload = msgs[i]
            if kind == E.TABLE:
                sub = PlainTextRenderer(eol=self.eol)
                open_tables = 1
                sub.feed(msgs[i])
                while open_tables > 0:
                    i += 1
                    sub.feed(msgs[i])
                    k2 = msgs[i][0]
                    if k2 == E.TABLE:
                        open_tables += 1
                    elif k2 == E.CLOSE_TABLE:
                        open_tables -= 1
                if not self.table or not self.table[-1]:
                    raise ValueError("table inside table without rows/cells")
                self.table[-1][-1].write_bytes(sub.result())
            elif kind == E.CAPTION:
                if self.caption_mode or self.caption_writer is not None:
                    raise ValueError("unexpected caption")
                self.caption_mode = True
                self.caption_writer = PlainTextRenderer(eol=self.eol)
            elif kind == E.CLOSE_CAPTION:
                if not self.caption_mode:
                    raise ValueError("close caption outside caption")
                self.caption_mode = False
            elif kind == E.TABLE_ROW:
                self.table.append([])
            elif kind == E.TABLE_CELL:
                if not self.table:
                    raise ValueError("cell without row")
                self.table[-1].append(_Cell(self.eol))
            elif kind not in (E.CLOSE_TABLE_ROW, E.CLOSE_TABLE_CELL):
                if self.caption_mode:
                    self.caption_writer.feed(msgs[i])
                else:
                    if not self.table or not self.table[-1]:
                        raise ValueError("cell content outside cell")
                    self.table[-1][-1].write_event(msgs[i])
            i += 1
        return self._render_table()

    # -- main dispatch (reference write_to, plain_text_writer.cpp:552-590)
    def feed(self, event):
        kind, payload = event
        if kind == E.CLOSE_TABLE:
            self.level -= 1
            if self.level == 0:
                grid = self._create_table()
                self._write(grid, kind="table")
                self.msgs = []
                self.table = []
                self.caption_mode = False
                self.caption_writer = None
                return
        if self.level > 0:
            self.msgs.append(event)
        if kind == E.TABLE:
            self.level += 1
        if self.level > 0:
            return
        handler = _HANDLERS.get(kind)
        if handler is not None:
            handler(self, payload)

    def feed_all(self, event_list):
        for ev in event_list:
            self.feed(ev)
        return self

    # -- per-kind handlers ---------------------------------------------
    def _on_text(self, payload):
        self._write(payload.encode("utf-8", "surrogateescape"), kind="text")

    def _on_eol(self, payload):
        self._write(self.eol)

    def _on_close_block(self, payload):
        if not self.list_mode:
            self._write(self.eol)

    def _on_link(self, payload):
        url = payload[0] if isinstance(payload, tuple) else payload
        self._write(_format_link_opening(url), kind="link")

    def _on_image(self, payload):
        alt, ocr_text = (payload[0], payload[1]) if payload else (None, None)
        text = ocr_text or ""
        if not text and alt:
            text = alt
        if text:
            self._write(text.encode("utf-8", "surrogateescape"), kind="image")

    def _on_list(self, payload):
        self.list_mode = True
        self.list_counter = 1
        lt = payload[0] if isinstance(payload, tuple) else payload
        self.list_type = lt or ""
        self._write(self.eol)

    def _on_close_list(self, payload):
        self.list_mode = False
        self.list_counter = 1

    def _on_list_item(self, payload):
        lt = self.list_type
        if lt == "none":
            pass
        elif lt == "decimal":
            self._write(
                str(self.list_counter).encode() + b". ", kind="list_item"
            )
        elif lt == "disc":
            self._write(b"* ", kind="list_item")
        else:
            self._write(
                lt.encode("utf-8", "surrogateescape"), kind="list_item"
            )

    def _on_close_list_item(self, payload):
        self.list_counter += 1
        self._write(self.eol)

    def _on_comment(self, payload):
        eol = self.eol
        author, ctime, comment = payload if payload else (None, None, None)
        text = eol + b"[[["
        if author:
            text += b"COMMENT BY " + author.encode("utf-8", "surrogateescape")
        if ctime:
            text += b" (" + ctime.encode("utf-8", "surrogateescape") + b")"
        text += b"]]]" + eol
        if comment is not None:
            cbytes = comment.encode("utf-8", "surrogateescape")
            text += cbytes
            if not cbytes or not cbytes.endswith(b"\n"):
                text += eol
        text += b"[[[---]]]" + eol
        self._write(text, kind="comment")

    def _on_header(self, payload):
        self.header_mode = True

    def _on_close_header(self, payload):
        self.header_mode = False
        self._write(self.eol)

    def _on_footer(self, payload):
        self.footer_mode = True
        self._footer_chunks = []

    def _on_close_footer(self, payload):
        self.footer_mode = False

    def _on_document(self, payload):
        self.nested_docs += 1

    def _on_close_document(self, payload):
        self.nested_docs -= 1
        if self.nested_docs == 0:
            footer = b"".join(self._footer_chunks)
            if footer:
                footer += self.eol
            self._write(self.eol + footer)

    def _on_mail(self, payload):
        subject, date, level = payload if payload else (None, None, None)
        text = b"\t" * (level or 0)
        text += b"mail: "
        if subject:
            text += subject.encode("utf-8", "surrogateescape")
        if date:
            stamp = _time.strftime(
                "%Y-%m-%d %I:%M:%S %p", _time.gmtime(date)
            ).encode()
            text += b" creation time: " + stamp + self.eol
        self._write(text, kind="mail")

    def _on_attachment(self, payload):
        eol = self.eol
        text = eol + eol + b"attachment: "
        if payload:
            text += payload.encode("utf-8", "surrogateescape")
        text += eol + eol
        self._write(text, kind="attachment")

    def _on_folder(self, payload):
        name, level = payload if payload else (None, None)
        text = b"\t" * (level or 0) + b"folder: "
        if name:
            text += name.encode("utf-8", "surrogateescape") + self.eol
        self._write(text, kind="folder")


#: event kind -> handler; every other kind (paragraph/section/span/
#: bold/underline opens, link close, style, page open, caption outside
#: tables, ...) renders nothing
_HANDLERS = {
    E.TEXT: PlainTextRenderer._on_text,
    E.BREAK_LINE: PlainTextRenderer._on_eol,
    E.CLOSE_PARAGRAPH: PlainTextRenderer._on_close_block,
    E.CLOSE_SECTION: PlainTextRenderer._on_close_block,
    E.LINK: PlainTextRenderer._on_link,
    E.IMAGE: PlainTextRenderer._on_image,
    E.LIST: PlainTextRenderer._on_list,
    E.CLOSE_LIST: PlainTextRenderer._on_close_list,
    E.LIST_ITEM: PlainTextRenderer._on_list_item,
    E.CLOSE_LIST_ITEM: PlainTextRenderer._on_close_list_item,
    E.COMMENT: PlainTextRenderer._on_comment,
    E.HEADER: PlainTextRenderer._on_header,
    E.CLOSE_HEADER: PlainTextRenderer._on_close_header,
    E.FOOTER: PlainTextRenderer._on_footer,
    E.CLOSE_FOOTER: PlainTextRenderer._on_close_footer,
    E.CLOSE_PAGE: PlainTextRenderer._on_eol,
    E.DOCUMENT: PlainTextRenderer._on_document,
    E.CLOSE_DOCUMENT: PlainTextRenderer._on_close_document,
    E.MAIL: PlainTextRenderer._on_mail,
    E.CLOSE_MAIL_BODY: PlainTextRenderer._on_eol,
    E.CLOSE_ATTACHMENT: PlainTextRenderer._on_eol,
    E.ATTACHMENT: PlainTextRenderer._on_attachment,
    E.FOLDER: PlainTextRenderer._on_folder,
}


def render_plain_text(event_list, eol: bytes = b"\n"):
    """Render a full document event stream; returns (bytes, spans)."""
    r = PlainTextRenderer(eol=eol)
    r.feed_all(event_list)
    return r.result(), r.spans
