"""One-pass HTML5 tokenizer and tree builder that streams element events.

A from-scratch, pragmatic subset of the WHATWG HTML5 parsing algorithm,
built to give the same event order as a walk of the reference's lexbor
parse after its ``fix_dom`` pass (reference:
src/html_parser.cpp:208-328, 486-492):

- void elements, raw-text elements (script/style/...), RCDATA
  (title/textarea) with entity decoding
- ``<span/>`` on a non-void element is an OPEN tag (HTML5 rule the
  reference's goldens depend on: tests/3.html odfLiEnd spans)
- implied end tags: ``p`` closed by block starts, ``li``/``dd``/``dt``
  chains, table cell/row structure with implicit ``tbody``
- foster parenting: non-table content inside table context is moved
  before the table at build time (spec behavior), while
  style/script/template stay inside the table and are relocated by
  :func:`fix_dom` afterwards (the reference's ``misplaced_tags`` order)

:meth:`TreeBuilder.feed` reads the tokenizer's regex matches inline and
sends each element open, text run and close straight to one *emitter*
(``html_extract``'s walk rules); no tree is built for the body.  Only
the head (until the body opens) and a table region (a ``table`` start
outside any table, until that table is popped: foster parenting and
:func:`fix_dom` move content there) are built as :class:`Node`
subtrees, then walked through the same emitter.  Nodes hold no parent
pointer, so a parse leaves no reference cycle.
"""

from __future__ import annotations

import html as _htmlmod
import re


class Node:
    """An element; ``children`` holds Nodes and ``str`` text (adjacent
    text merges into one string, as sibling text nodes would)."""

    __slots__ = ("name", "attrs", "children")

    def __init__(self, name, attrs):
        self.name = name
        self.attrs = attrs
        self.children = []

    def insert_before(self, child, ref):
        self.children.insert(self.children.index(ref), child)

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


VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset("script style xmp iframe noembed noframes".split())
RCDATA_ELEMENTS = frozenset(("title", "textarea"))
#: raw-text / RCDATA element -> the regex of its end tag
_RAW_CLOSE_RE = {
    name: re.compile(r"</" + name + r"[\t\n\f\r />]", re.I)
    for name in RAWTEXT_ELEMENTS | RCDATA_ELEMENTS
}

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
#: the elements ``fix_dom`` fixes, and the children they keep
_TABLE_MODE = frozenset(("table", "tr")) | TABLE_SECTIONS
_TABLE_MODE_KEEPS = frozenset(("caption", "td", "th", "tr")) | TABLE_SECTIONS
#: elements that bound the scope of a ``p`` close
_P_SCOPE = frozenset(("table", "td", "th", "caption"))
#: tags whose start or end is never a plain append/push or pop
_ROOT_TAGS = frozenset(("html", "head", "body"))
#: start tags :meth:`TreeBuilder.feed` does not stream inline
_START_SLOW = _ROOT_TAGS | TABLE_ONLY_TAGS | frozenset(("table",))
_LIST_STOPS = frozenset("ul ol dl table td th caption html body div".split())
#: start tag -> (names, stops): it first closes an open element of
#: ``names`` nearer than any of ``stops`` (``a``: a crude adoption
#: agency), so it streams inline while none of ``names`` is open
_CLOSES_OPEN = {
    "a": (("a",), frozenset("td th caption table html body div p".split())),
    "li": (("li",), _LIST_STOPS), "dd": (("dd", "dt"), _LIST_STOPS),
    "dt": (("dd", "dt"), _LIST_STOPS),
}

_TAG_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\f />]*")
#: the next ``<``; groups 1-3 are set when it opens an attribute-free
#: start or end tag, e.g. ``<p>`` / ``</div>``
_LT_RE = re.compile(r"<(?:(/?)([a-zA-Z][^\t\n\f />]*)(>)?)?")
_ATTR_RE = re.compile(
    r"""[\t\n\f\r /]*([^\t\n\f\r /><=][^\t\n\f\r /><=]*)"""
    r"""(?:[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|'[^']*'|[^\t\n\f\r >]*))?"""
)
_HTML_WS = " \t\n\r\f"


def _unescape(s: str) -> str:
    return _htmlmod.unescape(s) if "&" in s else s


def _attributes(s: str, j: int):
    """Parse the attributes of a start tag from ``s[j:]``; returns the
    attrs dict (first occurrence wins) and the index after the tag."""
    n = len(s)
    attrs = {}
    while j < n:
        c = s[j]
        if c == ">":
            return attrs, j + 1
        if c == "/" and s[j + 1 : j + 2] == ">":
            return attrs, j + 2
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
    return attrs, n


class TreeBuilder:
    """Builds a page's element structure and sends it to ``emitter``:
    ``open(name, attrs)``, ``text(str)`` and ``close(name)`` in document
    order, ``walk(children)`` for a finished table region and
    ``end_head(head)`` for the head when the body opens.

    ``open`` is the stack of open element names; ``open_counts`` holds
    per-name open counts, so unmatched end tags short-circuit in O(1)
    (adversarial </x> floods on deep pages were O(n^2)).  ``nodes`` is
    None unless a subtree is built, else the Nodes of ``open[base:]``:
    the head tree under ``<html>`` (``base`` 0) until the body opens."""

    def __init__(self, emitter):
        self.emitter = emitter
        self.open = ["html"]
        self.open_counts = {"html": 1}
        self._p_indices = []       # open <p> stack indices (lazy-pruned)
        self._pscope_indices = []  # table/td/th/caption scope boundaries
        self.in_body_phase = False
        self.root, self.head = Node("html", {}), Node("head", {})
        self.base = 0
        self.nodes = [self.root]
        self.table_nodes = []      # document-order table-mode elements
        self.parents = {}

    # -- helpers -------------------------------------------------------
    def _push(self, name, node):
        c = self.open_counts
        c[name] = c.get(name, 0) + 1
        self.open.append(name)
        if node is not None:
            self.nodes.append(node)

    def _truncate(self, idx):
        names = self.open
        if idx >= len(names):
            return
        c = self.open_counts
        nodes = self.nodes
        if nodes is None:
            close = self.emitter.close
            for name in reversed(names[idx:]):
                c[name] -= 1
                close(name)
            del names[idx:]
            return
        for name in names[idx:]:
            c[name] -= 1
        del names[idx:]
        if idx > self.base:
            del nodes[idx - self.base:]
        else:  # the region's outermost table is popped
            self._end_tree()

    def _end_tree(self):
        """Fix up the finished subtree and emit it: the table region
        under ``root``, or the head; events stream again after it."""
        fix_dom(self.table_nodes, self.parents)
        if self.base:
            self.emitter.walk(self.root.children)
        else:
            self.emitter.end_head(self.head)
        self.nodes = None
        self.table_nodes = []
        self.parents = {}

    def _foster_parent(self, node):
        names = self.open
        for idx in range(len(names) - 1, -1, -1):
            if names[idx] == "table":
                table = self.nodes[idx - self.base]
                self.parents[table].insert_before(node, table)
                return

    def _pop_to(self, names, inclusive=False, stops=TABLE_SCOPE_STOPS):
        """Pop stack until top is one of ``names`` (then optionally pop
        it too). Returns True when found."""
        items = self.open
        for idx in range(len(items) - 1, 0, -1):
            nm = items[idx]
            if nm in names:
                self._truncate(idx + 1 if not inclusive else idx)
                return True
            if nm in stops:
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

    def _insert(self, name, attrs, push=True):
        """Append an element to the current node: streamed, or built
        into the subtree (a ``table`` outside one starts a region)."""
        nodes = self.nodes
        node = None
        if nodes is None and name != "table":
            self.emitter.open(name, attrs)
        else:
            if nodes is None:
                self.root = parent = Node("", None)
                self.base = len(self.open)
                self.nodes = nodes = []
            else:
                parent = nodes[-1]
            node = Node(name, attrs)
            parent.children.append(node)
            if name in _TABLE_MODE:
                self.table_nodes.append(node)
                self.parents[node] = parent
        if push and name not in VOID_ELEMENTS:
            if name == "p":
                self._p_indices.append(len(self.open))
            elif name in _P_SCOPE:
                self._pscope_indices.append(len(self.open))
            self._push(name, node)

    def _ensure_body_phase(self):
        if not self.in_body_phase:
            self.in_body_phase = True
            if len(self.open) == 1:
                self._end_tree()
                self._insert("body", {})

    # -- token handlers (feed inlines the streaming cases) -------------
    def start_tag(self, name, attrs):
        """Root tags, head-phase content and table context; returns
        True when the tag is consumed, False when it is left to the
        in-body insertion rules of :meth:`start`."""
        if name == "html" or name == "head":
            return True
        if name == "body":
            self._ensure_body_phase()
            return True
        if not self.in_body_phase and name in HEAD_CONTENT:
            # head elements are the head's children, also inside a
            # noscript/template (the event order the digests pin); what
            # lands in <html> itself (after the body opens inside one)
            # is dropped
            node = Node(name, attrs)
            self.head.children.append(node)
            if name not in VOID_ELEMENTS:
                self._push(name, node)
            return True
        self._ensure_body_phase()

        if self.open[-1] not in _TABLE_CONTEXT:
            return False
        if name == "caption" or name == "colgroup" or name in TABLE_SECTIONS:
            self._pop_to(("table",))
        elif name == "col":
            if self.open[-1] != "colgroup":
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
                self._push(name, node)
            return True
        self._insert(name, attrs)
        return True

    def start(self, name, attrs):
        if self.start_tag(name, attrs):
            return
        # in-body insertion
        if self._p_indices and name in P_CLOSERS:
            self._close_p()
        if name in TABLE_ONLY_TAGS:
            return  # spec: ignore stray table tags in body
        if name in _CLOSES_OPEN:
            names, stops = _CLOSES_OPEN[name]
            self._pop_to(names, inclusive=True, stops=stops)
        self._insert(name, attrs)

    def end_tag(self, name):
        if name == "br":
            self._ensure_body_phase()
            self._insert("br", {}, push=False)
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
            nm = items[idx]
            if nm == name:
                self._truncate(idx)
                return
            if nm in TABLE_SCOPE_STOPS:
                return

    def text(self, text):
        top = self.open[-1]
        if not self.in_body_phase and top == "html":
            if text.strip(_HTML_WS) == "":
                return
            self._ensure_body_phase()  # opens the body: streams
        if self.nodes is None:
            self.emitter.text(text)
            return
        if top in _TABLE_CONTEXT and text.strip(_HTML_WS) != "":
            self._foster_parent(text)
            return
        children = self.nodes[-1].children
        if children and type(children[-1]) is str:
            children[-1] += text
        else:
            children.append(text)

    def feed(self, s):
        """Parse all of ``s`` (comments, doctypes and PIs are skipped);
        while events stream, text and plain start/end tags go to the
        emitter inline, everything else through the handlers above."""
        names = self.open
        counts = self.open_counts
        p_indices = self._p_indices
        emitter = self.emitter
        emit_text = emitter.text
        emit_open = emitter.open
        emit_close = emitter.close
        fast = False  # events stream inline: body phase, no tree
        i = text_start = 0
        n = len(s)
        find = s.find
        next_lt = _LT_RE.search
        while True:
            m = next_lt(s, i)
            if m is None:
                break
            lt = m.start()
            slash, name, gt = m.groups()
            if gt is None:
                nxt = s[lt + 1 : lt + 2]
                if not (nxt.isalpha() or nxt in ("/", "!", "?")):
                    i = lt + 1
                    continue
            if lt > text_start:
                value = s[text_start:lt]
                if "&" in value:
                    value = _htmlmod.unescape(value)
                if fast:
                    emit_text(value)
                else:
                    self.text(value)
                    fast = self.in_body_phase and self.nodes is None
            if gt is not None:
                i = text_start = m.end()
                name = name.lower()
                attrs = {}
            elif nxt == "!" and s.startswith("<!--", lt):
                end = find("-->", lt + 4)
                i = text_start = (end + 3) if end != -1 else n
                continue
            elif nxt == "!" or nxt == "?":
                end = find(">", lt + 2)
                i = text_start = (end + 1) if end != -1 else n
                continue
            elif nxt == "/":
                m = _TAG_NAME_RE.match(s, lt + 2)
                end = find(">", m.end() if m else lt + 2)
                i = text_start = (end + 1) if end != -1 else n
                if not m:
                    continue  # bogus comment
                slash = "/"
                name = m.group(0).lower()
            else:
                # start tag with attributes, a self-closing slash, or
                # an unterminated tail
                m = _TAG_NAME_RE.match(s, lt + 1)
                name = m.group(0).lower()
                attrs, i = _attributes(s, m.end())
                text_start = i
            if slash:
                if name in _ROOT_TAGS:
                    continue  # ignored
                if fast and names[-1] == name:
                    counts[name] -= 1
                    names.pop()
                    emit_close(name)
                else:
                    self.end_tag(name)
                    fast = self.in_body_phase and self.nodes is None
                continue
            if fast and name not in _START_SLOW and (
                    name not in _CLOSES_OPEN
                    or not any(map(counts.get, _CLOSES_OPEN[name][0]))):
                if p_indices and name in P_CLOSERS:
                    while p_indices and p_indices[-1] >= len(names):
                        p_indices.pop()  # the lazy prune of _close_p
                    if p_indices:
                        self._close_p()
                emit_open(name, attrs)
                if name not in VOID_ELEMENTS:
                    if name == "p":
                        p_indices.append(len(names))
                    counts[name] = counts.get(name, 0) + 1
                    names.append(name)
            else:
                self.start(name, attrs)
                fast = self.in_body_phase and self.nodes is None
            close_re = _RAW_CLOSE_RE.get(name)
            if close_re is not None:
                cm = close_re.search(s, i)
                if cm:
                    raw = s[i : cm.start()]
                    gt = find(">", cm.start() + 1)
                    i = text_start = (gt + 1) if gt != -1 else n
                else:
                    raw = s[i:]
                    i = text_start = n
                if raw and name in RCDATA_ELEMENTS:
                    raw = _unescape(raw)
                if fast:  # the element is the current node
                    if raw:
                        emit_text(raw)
                    counts[name] -= 1
                    names.pop()
                    emit_close(name)
                else:
                    if raw:
                        self.text(raw)
                    self.end_tag(name)
                    fast = self.in_body_phase and self.nodes is None
        if text_start < n:
            self.text(_unescape(s[text_start:]))
        self.close()

    def close(self):
        """End of input: emit the open subtree, close open elements."""
        names = self.open
        if self.nodes is not None:
            base = self.base
            self._end_tree()
            if not base:  # the head tree holds the rest of the page
                return
            del names[base:]
        close = self.emitter.close
        for name in reversed(names[1:]):
            close(name)


def fix_dom(table_nodes, parents):
    """Post-order WHATWG table-mode fix-up (reference fix_dom,
    src/html_parser.cpp:208-328): every element child of a table-mode
    element (table / thead / tbody / tfoot / tr) that is not
    caption/thead/tbody/tfoot/tr/td/th moves to just before it.  (The
    reference's table-body and table-row modes defer to table mode for
    the children they reject, so all three keep the same set.)  The
    builder's document-order list of table-mode nodes is processed in
    reverse: the order a post-order walk fixes them."""
    for node in reversed(table_nodes):
        children = node.children
        for child in list(children):
            if type(child) is not str and child.name not in _TABLE_MODE_KEEPS:
                children.remove(child)
                parents[node].insert_before(child, node)
