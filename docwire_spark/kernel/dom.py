"""Lightweight HTML5 tokenizer + DOM tree builder + table fix-up.

A from-scratch, pragmatic subset of the WHATWG HTML5 parsing algorithm,
built to produce the same DOM *shapes that matter for text extraction*
as the reference's lexbor parse + ``fix_dom`` pass
(reference: src/html_parser.cpp:208-328, 486-492):

- void elements, raw-text elements (script/style/...), RCDATA
  (title/textarea) with entity decoding
- ``<span/>`` on a non-void element is an OPEN tag (HTML5 rule the
  reference's goldens depend on: tests/3.html odfLiEnd spans)
- implied end tags: ``p`` closed by block starts, ``li``/``dd``/``dt``
  chains, table cell/row structure with implicit ``tbody``
- foster parenting: non-table content inside table context is moved
  before the table at build time (spec behavior), while
  style/script/template stay inside the table and are relocated by
  :func:`fix_dom` afterwards — this two-stage split reproduces the
  reference's event order (verified against its ``misplaced_tags``
  unit test expectations)
- :func:`fix_dom` replicates the reference's post-parse WHATWG
  table-insertion-mode fix-up exactly (everything that is not
  caption/thead/tbody/tfoot/tr/td/th is moved to just before the
  table element, post-order)

The DOM is private to this module and ``html_extract``, and shaped for
speed on the per-token path: elements are :class:`Node` objects, text
children are plain ``str`` (adjacent text merges into one string, as
sibling text nodes would), :func:`tokenize` matches attribute-free tags
with one compiled regex, and :meth:`TreeBuilder.feed` runs the common
in-body cases inline — text outside table context, start tags whose
only effect is close-``p``-if-closer then append then push, and end
tags matching the current node — calling the general handlers only for
the rest.
"""

from __future__ import annotations

import html as _htmlmod
import re


class Node:
    """An element; ``children`` holds Nodes and ``str`` text."""

    __slots__ = ("name", "attrs", "children", "parent")

    def __init__(self, name, attrs, parent=None):
        self.name = name
        self.attrs = attrs
        self.children = []
        self.parent = parent

    def append(self, child):
        if type(child) is not str:
            child.parent = self
        self.children.append(child)

    def insert_before(self, child, ref):
        if type(child) is not str:
            child.parent = self
        self.children.insert(self.children.index(ref), child)

    def remove_child(self, child):
        self.children.remove(child)
        child.parent = None

    def text_content(self):
        out = []
        stack = [self]
        while stack:
            n = stack.pop()
            if type(n) is str:
                out.append(n)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    def __repr__(self):  # debugging aid
        return f"<{self.name} {len(self.children)} children>"


VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset("script style xmp iframe noembed noframes".split())
RCDATA_ELEMENTS = frozenset(("title", "textarea"))
_RAW_OR_RCDATA = RAWTEXT_ELEMENTS | RCDATA_ELEMENTS

# start tags that close an open <p> (WHATWG in-body rules)
P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr main menu nav ol p plaintext pre section summary table "
    "ul li dd dt listing xmp".split()
)
HEAD_CONTENT = frozenset(
    "base basefont bgsound link meta noscript script style template title".split()
)
TABLE_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
TABLE_SCOPE_STOPS = frozenset(("table", "td", "th", "caption", "html"))
# tags ignored when they appear outside any table (WHATWG in-body: ignore)
TABLE_ONLY_TAGS = frozenset(
    "caption col colgroup tbody tfoot thead tr td th".split()
)
#: current-node names that put the builder in table context (the
#: WHATWG condition for foster parenting)
_TABLE_CONTEXT = frozenset(("table", "tr", "colgroup")) | TABLE_SECTIONS
#: tags whose start or end is never a plain append/push or pop
_ROOT_TAGS = frozenset(("html", "head", "body"))
#: in-body start tags with a rule beyond close-p, append and push
_IN_BODY_SPECIAL = TABLE_ONLY_TAGS | frozenset(("li", "dd", "dt", "a", "table"))

_TAG_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\f />]*")
#: the next ``<``; groups 1-3 are set when it opens an attribute-free
#: start or end tag, e.g. ``<p>`` / ``</div>``
_LT_RE = re.compile(r"<(?:(/?)([a-zA-Z][^\t\n\f />]*)(>)?)?")
_ATTR_RE = re.compile(
    r"""[\t\n\f\r /]*([^\t\n\f\r /><=][^\t\n\f\r /><=]*)"""
    r"""(?:[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|'[^']*'|[^\t\n\f\r >]*))?"""
)


def _unescape(s: str) -> str:
    if "&" not in s:
        return s
    return _htmlmod.unescape(s)


#: token tuples (kind, value, attrs): TOK_TEXT -> (text, None),
#: TOK_START -> (name, attrs dict), TOK_END -> (name, None).  Plain
#: tuples with int kinds beat attribute-carrying objects on the
#: ~100-tokens-per-page path.
TOK_TEXT, TOK_START, TOK_END = 0, 1, 2


_RAWTEXT_CLOSE_RE: dict = {}


def tokenize(s: str):
    """Yield (kind, value, attrs) token tuples; comments/doctypes/PIs
    are skipped."""
    i = 0
    n = len(s)
    text_start = 0
    find = s.find
    next_lt = _LT_RE.search
    while i < n:
        m = next_lt(s, i)
        if m is None:
            break
        lt = m.start()
        slash, name, gt = m.groups()
        if gt is not None:
            if lt > text_start:
                yield (TOK_TEXT, _unescape(s[text_start:lt]), None)
            i = text_start = m.end()
            name = name.lower()
            if slash:
                yield (TOK_END, name, None)
                continue
            attrs = {}
        else:
            nxt = s[lt + 1 : lt + 2]
            if not (nxt.isalpha() or nxt in ("/", "!", "?")):
                i = lt + 1
                continue
            if lt > text_start:
                yield (TOK_TEXT, _unescape(s[text_start:lt]), None)
            if nxt == "!":
                if s.startswith("<!--", lt):
                    end = find("-->", lt + 4)
                    i = text_start = (end + 3) if end != -1 else n
                else:
                    end = find(">", lt + 2)
                    i = text_start = (end + 1) if end != -1 else n
                continue
            if nxt == "?":
                end = find(">", lt + 2)
                i = text_start = (end + 1) if end != -1 else n
                continue
            if nxt == "/":
                m = _TAG_NAME_RE.match(s, lt + 2)
                if not m:
                    # bogus comment
                    end = find(">", lt + 2)
                    i = text_start = (end + 1) if end != -1 else n
                    continue
                end = find(">", m.end())
                i = text_start = (end + 1) if end != -1 else n
                yield (TOK_END, m.group(0).lower(), None)
                continue
            # start tag with attributes, a self-closing slash, or an
            # unterminated tail
            m = _TAG_NAME_RE.match(s, lt + 1)
            name = m.group(0).lower()
            j = m.end()
            attrs = {}
            while j < n:
                c = s[j]
                if c == ">":
                    j += 1
                    break
                if c == "/" and s[j + 1 : j + 2] == ">":
                    j += 2
                    break
                am = _ATTR_RE.match(s, j)
                if am and am.group(1):
                    aname = am.group(1).lower()
                    aval = am.group(2)
                    if aval is None:
                        aval = ""
                    elif aval[:1] in ('"', "'"):
                        aval = aval[1:-1]
                    if aname not in attrs:
                        attrs[aname] = _unescape(aval)
                    j = am.end()
                else:
                    j += 1
            else:
                j = n
            i = text_start = j
        yield (TOK_START, name, attrs)
        if name in _RAW_OR_RCDATA:
            close = _RAWTEXT_CLOSE_RE.get(name)
            if close is None:
                close = _RAWTEXT_CLOSE_RE[name] = re.compile(
                    r"</" + re.escape(name) + r"[\t\n\f\r />]", re.I
                )
            cm = close.search(s, i)
            if cm:
                raw = s[i : cm.start()]
                gt = find(">", cm.start() + 1)
                i = text_start = (gt + 1) if gt != -1 else n
            else:
                raw = s[i:]
                i = text_start = n
            if raw:
                if name in RCDATA_ELEMENTS:
                    raw = _unescape(raw)
                yield (TOK_TEXT, raw, None)
            yield (TOK_END, name, None)
    if text_start < n:
        yield (TOK_TEXT, _unescape(s[text_start:]), None)


class TreeBuilder:
    """Builds the DOM from tokens.  ``open`` is the stack of open
    elements; ``open_counts`` holds per-name open counts, so unmatched
    end tags short-circuit in O(1) instead of scanning the stack
    (adversarial </x> floods on deep pages were O(n^2))."""

    def __init__(self):
        self.html = Node("html", {})
        self.head = Node("head", {})
        self.body = Node("body", {})
        self.html.append(self.head)
        self.html.append(self.body)
        self.open = [self.html]
        self.open_counts = {"html": 1}
        self._p_indices = []       # open <p> stack indices (lazy-pruned)
        self._pscope_indices = []  # table/td/th/caption scope boundaries
        self.table_nodes = []      # document-order table-mode elements
        self.in_body_phase = False
        self.saw_html = False

    # -- helpers -------------------------------------------------------
    def _push(self, node):
        c = self.open_counts
        c[node.name] = c.get(node.name, 0) + 1
        self.open.append(node)

    def _truncate(self, idx):
        c = self.open_counts
        for node in self.open[idx:]:
            c[node.name] -= 1
        del self.open[idx:]

    def _nearest_table(self):
        for node in reversed(self.open):
            if node.name == "table":
                return node
        return None

    def _foster_parent(self, node):
        table = self._nearest_table()
        if table is not None and table.parent is not None:
            table.parent.insert_before(node, table)
        else:
            self.body.append(node)

    def _pop_to(self, names, inclusive=False, stops=TABLE_SCOPE_STOPS):
        """Pop stack until top is one of ``names`` (then optionally pop
        it too). Returns True when found."""
        items = self.open
        for idx in range(len(items) - 1, 0, -1):
            nm = items[idx].name
            if nm in names:
                self._truncate(idx + 1 if not inclusive else idx)
                return True
            if nm in stops and nm not in names:
                return False
        return False

    def _close_p(self):
        # equivalent to scanning the open stack top-down for a "p"
        # stopping at table/cell boundaries, but O(1) via tracked
        # indices — the naive walk is O(depth) per block tag and turns
        # deeply nested crawl pages into O(n^2) parses
        stack_len = len(self.open)
        p_idx = self._p_indices
        while p_idx and p_idx[-1] >= stack_len:
            p_idx.pop()
        if not p_idx:
            return
        b_idx = self._pscope_indices
        while b_idx and b_idx[-1] >= stack_len:
            b_idx.pop()
        last_b = b_idx[-1] if b_idx else 0
        if p_idx[-1] > last_b:
            self._truncate(p_idx.pop())

    def _close_li_dd_dt(self, name):
        group = ("li",) if name == "li" else ("dd", "dt")
        items = self.open
        for idx in range(len(items) - 1, 0, -1):
            nm = items[idx].name
            if nm in group:
                self._truncate(idx)
                return
            if nm in ("ul", "ol", "dl", "table", "td", "th", "caption", "html", "body", "div"):
                return

    def _insert(self, name, attrs, push=True):
        node = Node(name, attrs)
        self.open[-1].append(node)
        if name == "table" or name == "tr" or name in TABLE_SECTIONS:
            self.table_nodes.append(node)
        if push and name not in VOID_ELEMENTS:
            if name in ("table", "td", "th", "caption"):
                self._pscope_indices.append(len(self.open))
            self._push(node)

    def _ensure_body_phase(self):
        if not self.in_body_phase:
            self.in_body_phase = True
            if len(self.open) == 1:
                self._push(self.body)

    # -- general token handlers (everything feed does not inline) ------
    def start_tag(self, name, attrs):
        """Root tags, head-phase content and table context; returns
        True when the tag is consumed, False when it is left to the
        in-body insertion rules in :meth:`feed`."""
        if name == "html":
            if not self.saw_html:
                self.saw_html = True
                self.html.attrs.update(attrs)
            return True
        if name == "head":
            return True
        if name == "body":
            self.body.attrs.update(attrs)
            self._ensure_body_phase()
            return True
        if not self.in_body_phase and name in HEAD_CONTENT:
            node = Node(name, attrs)
            self.head.append(node)
            if name not in VOID_ELEMENTS:
                self._push(node)
            return True
        self._ensure_body_phase()

        if self.open[-1].name not in _TABLE_CONTEXT:
            return False
        if name == "caption" or name == "colgroup" or name in TABLE_SECTIONS:
            self._pop_to(("table",))
        elif name == "col":
            if self.open[-1].name != "colgroup":
                self._pop_to(("table",))
                self._insert("colgroup", {})
        elif name == "tr":
            if not self._pop_to(TABLE_SECTIONS):
                self._pop_to(("table",))
                self._insert("tbody", {})
        elif name in ("td", "th"):
            if not self._pop_to(("tr",)):
                if not self._pop_to(TABLE_SECTIONS):
                    self._pop_to(("table",))
                    self._insert("tbody", {})
                self._insert("tr", {})
        elif name == "table":
            # spec: implies </table>, new table as sibling
            self._pop_to(("table",), inclusive=True, stops=("html",))
        elif name == "form":
            return True  # in-table form: insert+pop immediately; no effect on text
        elif name not in ("style", "script", "template"):
            # anything else: foster parent, keep on open stack (no
            # p-closing across the foster boundary)
            node = Node(name, attrs)
            self._foster_parent(node)
            if name not in VOID_ELEMENTS:
                self._push(node)
            return True
        self._insert(name, attrs)
        return True

    def start_in_body_special(self, name, attrs):
        """In-body start tags of ``_IN_BODY_SPECIAL`` (after the
        close-p step :meth:`feed` has applied)."""
        if name in TABLE_ONLY_TAGS:
            return  # spec: ignore stray table tags in body
        if name == "li" or name == "dd" or name == "dt":
            self._close_li_dd_dt(name)
        elif name == "a":
            # crude adoption-agency: close an open <a> first (spec)
            items = self.open
            for idx in range(len(items) - 1, 0, -1):
                nm = items[idx].name
                if nm == "a":
                    self._truncate(idx)
                    break
                if nm in ("td", "th", "caption", "table", "html", "body", "div", "p"):
                    break
        self._insert(name, attrs)

    def end_tag(self, name):
        if name == "br":
            self._ensure_body_phase()
            self._insert("br", {}, push=False)
            return
        if name in _ROOT_TAGS:
            return
        if name == "table":
            self._pop_to(("table",), inclusive=True, stops=("html",))
            return
        if name in ("td", "th", "tr", "caption") or name in TABLE_SECTIONS:
            self._pop_to((name,), inclusive=True)
            return
        # generic: find matching element without crossing table/cell bounds
        if self.open_counts.get(name, 0) == 0:
            return  # O(1) rejection of unmatched end tags
        items = self.open
        for idx in range(len(items) - 1, 0, -1):
            node = items[idx]
            if node.name == name:
                self._truncate(idx)
                return
            if node.name in TABLE_SCOPE_STOPS:
                return

    def text(self, text):
        """Text before the body phase or in table context; returns
        True when consumed, False when it belongs to the current node
        (appended by :meth:`feed`)."""
        if not self.in_body_phase:
            if self.open[-1] is not self.html:
                # inside an explicit head element (title/style/script/...)
                return False
            if text.strip(" \t\n\r\f") == "":
                return True
            self._ensure_body_phase()
        if (self.open[-1].name in _TABLE_CONTEXT
                and text.strip(" \t\n\r\f") != ""):
            self._foster_parent(text)
            return True
        return False

    def feed(self, tokens):
        """Build the tree from ``tokens``.  In the body phase outside
        table context, text and plain start/end tags are handled here
        inline; everything else goes through the general handlers."""
        items = self.open
        p_indices = self._p_indices
        in_body = self.in_body_phase
        for kind, value, attrs in tokens:
            if kind == TOK_TEXT:
                top = items[-1]
                if not in_body or top.name in _TABLE_CONTEXT:
                    consumed = self.text(value)
                    in_body = self.in_body_phase
                    if consumed:
                        continue
                    top = items[-1]
                children = top.children
                if children and type(children[-1]) is str:
                    children[-1] += value
                else:
                    children.append(value)
            elif kind == TOK_START:
                if (not in_body or value in _ROOT_TAGS
                        or items[-1].name in _TABLE_CONTEXT):
                    consumed = self.start_tag(value, attrs)
                    in_body = self.in_body_phase
                    if consumed:
                        continue
                # in-body insertion
                if p_indices and value in P_CLOSERS:
                    self._close_p()
                if value in _IN_BODY_SPECIAL:
                    self.start_in_body_special(value, attrs)
                    continue
                # a plain element: _insert without its table/scope
                # bookkeeping, which no plain name needs
                top = items[-1]
                node = Node(value, attrs, top)
                top.children.append(node)
                if value not in VOID_ELEMENTS:
                    if value == "p":
                        p_indices.append(len(items))
                    self._push(node)
            else:
                if items[-1].name == value and value not in _ROOT_TAGS:
                    self._truncate(len(items) - 1)
                else:
                    self.end_tag(value)
                    in_body = self.in_body_phase


# ---------------------------------------------------------------------------
# fix_dom: reference src/html_parser.cpp:208-328 replicated exactly
# ---------------------------------------------------------------------------

_TBODY_OK = frozenset(("tr", "th", "td"))
_TR_OK = frozenset(("th", "td"))


def _fix_in_table_mode(node, child):
    name = child.name
    if name in ("caption", "tbody", "tfoot", "thead", "td", "th", "tr"):
        return False
    # style/script/template and anything else: move before the table
    node.remove_child(child)
    node.parent.insert_before(child, node)
    return True


def _fix_in_table_body_mode(node, child):
    if child.name in _TBODY_OK:
        return False
    return _fix_in_table_mode(node, child)


def _fix_in_table_row_mode(node, child):
    if child.name in _TR_OK:
        return False
    return _fix_in_table_mode(node, child)


def fix_dom(table_nodes):
    """Post-order WHATWG table-mode fix-up (reference fix_dom).

    Only table-mode elements (table / thead / tbody / tfoot / tr) can
    be fixed, so the builder's document-order list of exactly those
    nodes is processed in reverse (children precede parents in reverse
    document order — the same order a post-order walk fixes them)."""
    for node in reversed(table_nodes):
        name = node.name
        if name == "table":
            fixer = _fix_in_table_mode
        elif name == "tr":
            fixer = _fix_in_table_row_mode
        else:
            fixer = _fix_in_table_body_mode
        for child in list(node.children):
            if type(child) is not str:
                fixer(node, child)


def parse_html(text: str):
    """Parse HTML text into a DOM, apply the table fix-up and return
    the (head, body) elements.  They are the first ``head`` and
    ``body`` in document order: the builder never creates another
    element of either name."""
    builder = TreeBuilder()
    builder.feed(tokenize(text))
    fix_dom(builder.table_nodes)
    return builder.head, builder.body
