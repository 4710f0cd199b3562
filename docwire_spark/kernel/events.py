"""Document element event vocabulary.

Mirrors the reference's SAX-like open/close element set
(reference: src/document_elements.h:28-168, src/mail_elements.h:27-54).
Events are plain tuples ``(kind, payload)`` for speed inside Arrow-batched
UDFs; ``payload`` is ``None`` for structural events.

Payloads:
- TEXT: str
- LINK: (url: str, styling) — url '' when href was stripped/missing;
  bare str accepted from non-HTML parsers
- IMAGE: (alt: str|None, ocr_text: str|None[, src: str|None, styling])
- STYLE: str css_text
- LIST: (type, styling) or bare str type
  ('decimal' | 'disc' | 'none' | literal)
- structural opens (PARAGRAPH/SECTION/SPAN/BOLD/UNDERLINE/TABLE/
  TABLE_ROW/TABLE_CELL/CAPTION/BREAK_LINE/LIST_ITEM): styling or None,
  where styling = (classes: list[str], id: str, style: str)
  (reference attributes.h:33-41)
- COMMENT: (author: str|None, time: str|None, comment: str|None)
- MAIL: (subject: str|None, date: int|None, level: int|None)
- ATTACHMENT: str|None name
- FOLDER: (name: str|None, level: int|None)
"""

DOCUMENT = 0
CLOSE_DOCUMENT = 1
TEXT = 2
PARAGRAPH = 3
CLOSE_PARAGRAPH = 4
SECTION = 5
CLOSE_SECTION = 6
SPAN = 7
CLOSE_SPAN = 8
BOLD = 9
CLOSE_BOLD = 10
UNDERLINE = 11
CLOSE_UNDERLINE = 12
BREAK_LINE = 13
LINK = 14
CLOSE_LINK = 15
IMAGE = 16
STYLE = 17
LIST = 18
CLOSE_LIST = 19
LIST_ITEM = 20
CLOSE_LIST_ITEM = 21
TABLE = 22
CLOSE_TABLE = 23
TABLE_ROW = 24
CLOSE_TABLE_ROW = 25
TABLE_CELL = 26
CLOSE_TABLE_CELL = 27
CAPTION = 28
CLOSE_CAPTION = 29
HEADER = 30
CLOSE_HEADER = 31
FOOTER = 32
CLOSE_FOOTER = 33
COMMENT = 34
PAGE = 35
CLOSE_PAGE = 36
MAIL = 37
CLOSE_MAIL = 38
MAIL_BODY = 39
CLOSE_MAIL_BODY = 40
ATTACHMENT = 41
CLOSE_ATTACHMENT = 42
FOLDER = 43
CLOSE_FOLDER = 44


# -- optional child capture (extract_tree) ----------------------------------

import contextvars as _contextvars

#: when set (kernel/api.py:extract_tree), mail walkers offer each
#: attachment's (name, payload) here so children surface as tree rows
CHILD_SINK: _contextvars.ContextVar = _contextvars.ContextVar(
    "child_sink", default=None
)


def offer_child(name, payload) -> None:
    sink = CHILD_SINK.get()
    if sink is not None:
        sink.append((name or "", bytes(payload)))
