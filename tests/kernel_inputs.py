"""Seeded kernel inputs and per-document output digests.

The reference goldens cannot be replayed everywhere, so kernel
byte-identity is guarded by ``tests/kernel_digests.json``: the sha256
of every output field of ``kernel.api.extract`` for a fixed, seeded
input set.  ``test_kernel_digests.py`` recomputes it; regenerate it
(only when an output change is intended) with

    python -m tests.kernel_inputs --write

Input sets (url prefix = set name):

- ``corpus/``: ``spark.corpus.make_page`` pages covering the four
  charset variants (utf-8, cp1250 via ``<meta>``, cp1250 via an XML
  declaration) and oversized rows;
- ``binary/``: every ``ops.extraction_binary.make_*`` format;
- ``hostile/``: the ``test_hostile_rows`` rows;
- ``random/`` and ``attrs/``: grammar-generated HTML exercising the
  tree-construction corners (table context, foster parenting,
  ``fix_dom``, implied closes, ``<a>`` adoption, stray and unmatched
  end tags, head-phase content, raw text / RCDATA, entities, case,
  quoting, comments / PIs / doctypes, ``<span/>``, CSS
  ``list-style: none``, meta dates, ``data:`` images).  ``attrs/``
  pages carry several attributes on every tag.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

DIGESTS_PATH = os.path.join(os.path.dirname(__file__), "kernel_digests.json")

#: exporter renders digested alongside the plain text
EXPORTS = ("html", "meta_text", "csv")
FIELDS = ("mime", "error", "text", "spans", "n_events", "meta_json",
          "html", "meta_text", "csv", "main_content")

N_CORPUS = 240
N_RANDOM = 360
N_ATTRS = 120


# -- corpus pages -------------------------------------------------------------


def corpus_rows(n: int = N_CORPUS, seed: int = 7):
    """``make_page`` pages over the corpus host table; every 40th page
    is oversized."""
    import bisect

    from docwire_spark.spark.corpus import _zipf_hosts, make_page

    hosts, cum = _zipf_hosts(50)
    for i in range(n):
        rng = random.Random(seed * 1_000_003 + i)
        host = hosts[bisect.bisect_left(cum, rng.random())]
        url, _ts, html, _cc, _lang, _exp = make_page(rng, i, host, i % 40 == 39)
        yield "corpus/" + url, html


# -- binary formats -----------------------------------------------------------

_BINARY_TEXTS = (
    "Quarterly report, 42 items shipped.",
    "naïve café, 5 £ über straße",
    "a",
)


def binary_rows():
    from docwire_spark.ops import extraction_binary as eb

    makers = sorted(n for n in dir(eb) if n.startswith("make_"))
    for k, text in enumerate(_BINARY_TEXTS):
        for name in makers:
            fmt = name[len("make_"):]
            make = getattr(eb, name)
            if fmt == "eml":
                data = make(k, text)
            elif fmt == "nested_zip":
                data = make(text, k)
            else:
                data = make(text)
            yield f"binary/{k}.{fmt}", data


# -- hostile rows -------------------------------------------------------------


def hostile_rows():
    big_body = b"<p>hello big page</p>" * 150_000
    yield from (
        ("hostile/u_null", b""),  # NULL html reaches the kernel as b""
        ("hostile/u_empty", b""),
        ("hostile/u_junk", b"\x00\xff\xfe junk"),
        ("hostile/u_truncated", b"<html><p>unclosed"),
        ("hostile/u_pdfish", b"%PDF-1.4 broken"),
        ("hostile/u_big", b"<html><body>" + big_body + b"</body></html>"),
        ("hostile/u_small", b"<html><body><p>tiny</p></body></html>"),
    )


# -- grammar-based random HTML ------------------------------------------------

_WORDS = ("alpha", "beta", "gamma", "delta", "żółw", "łąka", "naïve",
          "x", "42", "the", "of", "and", "café", "ß")
_WS = (" ", "  ", "\n", "\t", "\r\n", " \f ", " ", "   ", "\x0b", "")
_ENTITIES = ("&amp;", "&lt;", "&gt;", "&nbsp;", "&#65;", "&#x263A;", "&copy",
             "&quot;", "&bogus;", "&", "&#0;", "&AMP;")
_INLINE = ("span", "b", "u", "i", "em", "strong", "a", "font", "small",
           "code", "label", "abbr", "nav")
_BLOCK = ("div", "p", "h1", "h2", "h3", "h4", "h5", "h6", "section",
          "article", "blockquote", "header", "footer", "pre", "address",
          "main", "aside", "center", "form", "fieldset", "details",
          "summary", "figure", "figcaption", "hgroup", "dialog", "menu")
_CSS = (
    "li { list-style: none; }",
    "ul {list-style:none}",
    "ol\n{ list-style: none ;}",
    "p { color: red }",
    "ul { list-style: disc }",
    "body{margin:0} li{list-style: none}",
)


class _Gen:
    def __init__(self, rng: random.Random, attr_heavy: bool):
        self.rng = rng
        self.attr_heavy = attr_heavy
        self.budget = rng.randint(20, 160)

    def case(self, name: str) -> str:
        r = self.rng.random()
        if r < 0.1:
            return name.upper()
        if r < 0.15:
            return name.capitalize()
        return name

    def word(self) -> str:
        return self.rng.choice(_WORDS)

    def text(self) -> str:
        rng = self.rng
        parts = []
        for _ in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.15:
                parts.append(rng.choice(_ENTITIES))
            elif r < 0.3:
                parts.append(rng.choice(_WS))
            elif r < 0.33:
                parts.append(rng.choice(("<", "< b", "a<3", "1 < 2 > 0")))
            else:
                parts.append(self.word())
            parts.append(rng.choice(_WS[:4]))
        return "".join(parts)

    def attr_value(self) -> str:
        rng = self.rng
        v = rng.choice((
            self.word(), "a>b", "say \"hi\"", "it's", "x y  z", "",
            "&amp;x", "list-style: none", "color: red;  ", " pad ",
            "c1 c2", "c1  c2", "javascript:void(0)", "#top",
            "https://ex.example/p?a=1&b=2", "data:image/png;base64,iVBORw0K",
        ))
        q = rng.random()
        if '"' in v:
            return "='" + v + "'"
        if "'" in v or " " in v or ">" in v or not v:
            return '="' + v + '"'
        if q < 0.4:
            return '="' + v + '"'
        if q < 0.6:
            return "='" + v + "'"
        if q < 0.75:
            return "=" + v
        if q < 0.85:
            return ' = "' + v + '"'
        return ""  # bare attribute

    def attrs(self, name: str) -> str:
        rng = self.rng
        n = rng.randint(2, 6) if self.attr_heavy else (
            rng.randint(1, 2) if rng.random() < 0.3 else 0)
        out = []
        pool = ["class", "id", "style", "title", "data-x", "lang", "dir",
                "CLASS", "Style", "role", "aria-label", "tabindex"]
        if name == "a":
            pool += ["href", "href", "HREF", "target"]
        if name == "img":
            pool += ["src", "alt", "alt", "width"]
        for _ in range(n):
            sep = rng.choice((" ", "  ", "\n", "\t", "/"))
            out.append(sep + self.case(rng.choice(pool)) + self.attr_value())
        return "".join(out)

    def start(self, name: str) -> str:
        tail = "/>" if self.rng.random() < 0.04 else ">"
        return "<" + self.case(name) + self.attrs(name) + tail

    def end(self, name: str) -> str:
        return "</" + self.case(name) + self.rng.choice((">", " >", "\n>"))

    def noise(self) -> str:
        return self.rng.choice((
            "<!-- comment <p>not a tag</p> -->", "<!---->", "<!-- unterminated --",
            "<!DOCTYPE html>", "<!doctype HTML PUBLIC \"x\">", "<?php echo 1; ?>",
            "<?xml version=\"1.0\"?>", "</ 3>", "</>", "<!x>", "</foo>",
            "</div>", "</p>", "</li>", "</table>", "</td>", "</tr>",
            "<td>", "<tr>", "<th>", "<tbody>", "<caption>", "<col>",
            "</span>", "</br>", "</html>", "</body>", "</head>",
            "<body class=late>", "<html lang=xx>", "<head>",
        ))

    def raw(self) -> str:
        rng = self.rng
        name = rng.choice(("script", "style", "xmp", "iframe", "noembed",
                           "noframes", "title", "textarea"))
        body = rng.choice((
            "if (a < b && c > d) { x = '</p>'; }", "a &amp; b &lt; c",
            "</scrip> still raw", "li { list-style: none }", "",
            "<b>not bold</b>", "line1\nline2",
        ))
        close = rng.choice(("</" + name + ">", "</" + name.upper() + " >",
                            "</" + name + "\n>"))
        if rng.random() < 0.03:
            close = ""  # unterminated: runs to end of input
        return self.start(name) + body + close

    def img(self) -> str:
        rng = self.rng
        src = rng.choice((
            "/i.png", "data:image/png;base64,iVBORw0KGgo=",
            "data:image/png;base64,", "data:text/plain,abc",
            "data:;base64,QUJD", "data:image/gif;base64,@@@",
        ))
        alt = rng.choice(("", " alt=\"a picture\"", " alt=pic", " ALT=''"))
        return f'<img src="{src}"{alt}' + rng.choice((">", "/>", " />"))

    def table(self, depth: int) -> str:
        rng = self.rng
        out = [self.start("table")]
        if rng.random() < 0.3:
            out.append(self.start("caption") + self.text()
                       + (self.end("caption") if rng.random() < 0.8 else ""))
        if rng.random() < 0.2:
            out.append(self.start("colgroup") + "<col>" * rng.randint(0, 2))
        if rng.random() < 0.2:
            out.append("<col span=2>")
        sec = rng.choice(("", "tbody", "thead", "tfoot"))
        if sec:
            out.append(self.start(sec))
        for _ in range(rng.randint(0, 3)):
            if rng.random() < 0.85:
                out.append(self.start("tr"))
            for _ in range(rng.randint(0, 3)):
                if rng.random() < 0.9:
                    out.append(self.start(rng.choice(("td", "td", "th"))))
                out.append(self.flow(depth + 1))
                if rng.random() < 0.5:
                    out.append(self.end(rng.choice(("td", "th"))))
            if rng.random() < 0.2:
                # foster-parented and fix_dom-relocated content
                out.append(rng.choice((
                    self.text(), "<div>fostered " + self.word() + "</div>",
                    "<style>p{}</style>", "<script>x()</script>",
                    "<template>t</template>", "<form>", "<p>stray",
                    "<span>in row</span>", "<br>", "<hr>",
                    "<table><tr><td>inner</td></tr></table>",
                )))
            if rng.random() < 0.6:
                out.append(self.end("tr"))
        if sec and rng.random() < 0.5:
            out.append(self.end(sec))
        if rng.random() < 0.25:
            out.append(self.text())  # text directly in table context
        if rng.random() < 0.9:
            out.append(self.end("table"))
        return "".join(out)

    def lst(self, depth: int) -> str:
        rng = self.rng
        name = rng.choice(("ul", "ol", "dl", "ul", "ol"))
        style = rng.choice(("", "", ' style="list-style: none"',
                            " style='list-style:none'", ' style=""'))
        out = ["<" + self.case(name) + style + self.attrs(name) + ">"]
        item = ("dt", "dd") if name == "dl" else ("li",)
        for _ in range(rng.randint(0, 4)):
            out.append(self.start(rng.choice(item)))
            out.append(self.flow(depth + 1))
            if rng.random() < 0.4:
                out.append(self.end(rng.choice(item)))
        if rng.random() < 0.85:
            out.append(self.end(name))
        return "".join(out)

    def flow(self, depth: int) -> str:
        rng = self.rng
        out = []
        for _ in range(rng.randint(1, 4)):
            self.budget -= 1
            if self.budget <= 0 or depth > 7:
                out.append(self.text())
                break
            r = rng.random()
            if r < 0.28:
                out.append(self.text())
            elif r < 0.43:
                name = rng.choice(_INLINE)
                out.append(self.start(name) + self.flow(depth + 1))
                if rng.random() < 0.75:
                    out.append(self.end(name))
            elif r < 0.6:
                name = rng.choice(_BLOCK)
                out.append(self.start(name) + self.flow(depth + 1))
                if rng.random() < 0.6:
                    out.append(self.end(name))
            elif r < 0.66:
                out.append(self.table(depth))
            elif r < 0.72:
                out.append(self.lst(depth))
            elif r < 0.76:
                # implied closes and adoption
                out.append(rng.choice((
                    "<p>one<p>two<div>three</div>",
                    "<a href=/1>x<a href=/2>y</a>",
                    "<a href=#frag>in<p>para</a>tail",
                    "<li>orphan<li>item",
                    "<dd>d1<dt>t1<dd>d2",
                    "<p>para<table><tr><td>c</td></tr></table>after",
                    "<b>bold<u>both</b>under</u>",
                    "<span/>after-span",
                    "<h1>h<h2>nested heading</h1>",
                )))
            elif r < 0.8:
                out.append(self.raw())
            elif r < 0.84:
                out.append(self.noise())
            elif r < 0.88:
                out.append(self.img())
            elif r < 0.92:
                out.append(rng.choice(("<br>", "<BR/>", "</br>", "<hr>",
                                       "<wbr>", "<input value=x>")))
            else:
                out.append(rng.choice(_WS))
        return "".join(out)

    def head(self) -> str:
        rng = self.rng
        out = []
        for _ in range(rng.randint(0, 5)):
            r = rng.random()
            if r < 0.2:
                out.append(self.start("title") + self.text() + "</title>")
            elif r < 0.4:
                out.append("<style>" + rng.choice(_CSS) + "</style>")
            elif r < 0.65:
                name = rng.choice(("created", "dcterms.issued", "changed",
                                   "dcterms.modified", "author",
                                   "dcterms.creator", "changedby",
                                   "dcterms.contributor", "keywords",
                                   "CREATED", "Author"))
                content = rng.choice((
                    "2020-01-02T03:04:05Z", "2019-12-31", "20200102;3000000",
                    "garbage", "", "Jan Kowalski", "2021-06-07T08:09:10.5+02:00",
                ))
                quote = '"' if rng.random() < 0.8 else ""
                out.append(f"<meta name={quote}{name}{quote} "
                           f'content="{content}">')
            elif r < 0.75:
                out.append('<meta charset="utf-8">')
            elif r < 0.85:
                out.append('<link rel="stylesheet" href="/s.css">')
            elif r < 0.9:
                out.append(self.text())  # head-phase text
            else:
                out.append(self.noise())
        return "".join(out)

    def document(self) -> str:
        rng = self.rng
        parts = []
        if rng.random() < 0.5:
            parts.append(rng.choice(("<!DOCTYPE html>", "<!doctype html>\n",
                                     "<?xml version='1.0'?>")))
        shape = rng.random()
        if shape < 0.6:
            parts.append(self.start("html") + rng.choice(_WS[:3]))
            if rng.random() < 0.8:
                parts.append("<head>" + self.head()
                             + ("</head>" if rng.random() < 0.8 else ""))
            parts.append(rng.choice(_WS[:3]) + self.start("body") + self.flow(0))
            if rng.random() < 0.8:
                parts.append("</body>")
            if rng.random() < 0.8:
                parts.append("</html>")
            if rng.random() < 0.2:
                parts.append(self.text())  # after </html>
        elif shape < 0.8:
            parts.append(self.head() + self.flow(0))  # implied html/head/body
        else:
            parts.append(self.flow(0))  # fragment
        return "".join(parts)


def random_rows(n: int = N_RANDOM, seed: int = 11, attr_heavy: bool = False):
    prefix = "attrs" if attr_heavy else "random"
    for i in range(n):
        rng = random.Random(seed * 1_000_003 + i)
        html = _Gen(rng, attr_heavy).document()
        enc = "utf-8" if rng.random() < 0.9 else "utf-16"
        data = html.encode(enc, "surrogatepass")
        yield f"{prefix}/{i}.html", data


def all_rows():
    """(url, bytes) for every digested input, in a fixed order."""
    yield from corpus_rows()
    yield from binary_rows()
    yield from hostile_rows()
    yield from random_rows()
    yield from random_rows(N_ATTRS, seed=13, attr_heavy=True)


# -- digests -------------------------------------------------------------------


def _h(value) -> str:
    if value is None:
        return "-"
    if isinstance(value, str):
        value = value.encode("utf-8", "surrogatepass")
    elif not isinstance(value, bytes):
        value = repr(value).encode()
    return hashlib.sha256(value).hexdigest()[:16]


def digest(res) -> dict:
    """Per-field digests of one ``ExtractResult``."""
    meta_json = (json.dumps(res.meta, default=str, sort_keys=True)
                 if res.meta else None)
    return {
        "mime": res.mime,
        "error": res.error,
        "text": _h(res.text),
        "spans": _h(res.spans),
        "n_events": res.n_events,
        "meta_json": _h(meta_json),
        "html": _h(res.html),
        "meta_text": _h(res.meta_text),
        "csv": _h(res.csv),
        "main_content": _h(res.main_content),
    }


def compute(rows=None) -> dict:
    from docwire_spark.kernel.api import extract

    out = {}
    for url, data in (all_rows() if rows is None else rows):
        res = extract(data, url=url.split("/", 1)[1], exports=EXPORTS,
                      want_main_content=True)
        out[url] = digest(res)
    return out


def load() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


if __name__ == "__main__":
    import sys

    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python -m tests.kernel_inputs --write")
    digests = compute()
    with open(DIGESTS_PATH, "w") as f:
        json.dump(digests, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(digests)} digests to {DIGESTS_PATH}")
