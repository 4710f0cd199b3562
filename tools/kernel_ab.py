"""Interleaved A/B timing of two docwire_spark kernel trees in one process.

Usage:
    python tools/kernel_ab.py OLD_TREE NEW_TREE [--input crawl_html]
        [--seed 7] [--n 4500] [--chunk 100] [--rounds 3]

Each tree is a directory holding a ``docwire_spark`` package (for
example a ``git archive`` of the parent commit, and this checkout).
Both are imported into this process under their own ``sys.modules``
snapshot, then timed on the same documents in alternating chunks of
``--chunk`` documents (the order flips every chunk), so box-speed
drift between runs falls on both trees alike: back-to-back runs of one
kernel in separate processes differ by far more than the changes being
measured.  Every document's plain-text extraction must digest equal
in both trees (``tests/kernel_inputs.digest``: text, spans, n_events,
meta, mime, error), or the tool exits 1.

Inputs (``--input``):
- ``crawl_html``: the benchmark's crawl pages (``perfbench.inputs``
  rows for ``--seed``, ``--n`` of them);
- ``random`` / ``attrs``: the grammar-generated HTML of
  ``tests/kernel_inputs.py`` (``attrs`` carries several attributes on
  every tag);
- ``digest``: every input of the digest gate.

It also prints, per tree, the share of text / start-tag / end-tag
tokens the tree builder handles without calling any of its general
handlers (``_GENERAL_HANDLERS``), i.e. in the inline fast branches of
``TreeBuilder.feed``, on the HTML documents of the input.

Output: one JSON line.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PKG = "docwire_spark"

from tests import kernel_inputs as K  # noqa: E402  (imports no docwire_spark)


def _pkg_modules() -> dict:
    return {k: m for k, m in sys.modules.items()
            if k == PKG or k.startswith(PKG + ".")}


class Tree:
    """One kernel tree, importable alongside another: its modules live
    in ``sys.modules`` only while it is active."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.mods: dict = {}
        self.activate()
        from docwire_spark.kernel import api

        if not api.__file__.startswith(self.root + os.sep):
            sys.exit(f"{api.__file__} is not under {self.root}")
        self.api = api
        self.deactivate()

    def activate(self):
        for k in _pkg_modules():
            del sys.modules[k]
        sys.modules.update(self.mods)
        sys.path.insert(0, self.root)
        importlib.invalidate_caches()

    def deactivate(self):
        self.mods = _pkg_modules()
        sys.path.remove(self.root)


def _rows(args) -> list:
    """(url, bytes) inputs; imported from this checkout before either
    tree is activated (activation drops these modules again)."""
    if args.input == "crawl_html":
        from perfbench.inputs import _crawl_rows

        return [(u, h) for u, h, *_ in _crawl_rows(args.n, args.seed)]
    if args.input == "random":
        return list(K.random_rows(args.n, seed=args.seed))
    if args.input == "attrs":
        return list(K.random_rows(args.n, seed=args.seed, attr_heavy=True))
    return list(K.all_rows())


#: TreeBuilder methods outside the inline fast branches of ``feed``
_GENERAL_HANDLERS = ("text", "start_tag", "start_in_body_special", "end_tag")


def fast_shares(tree: Tree, rows: list) -> dict:
    """Share of tokens per kind that never reach the builder's general
    handlers (wrapped on the instance, so the tree's code is unchanged)."""
    tree.activate()
    try:
        from docwire_spark.kernel import dom
        from docwire_spark.kernel.charset import ensure_html_utf8

        api = tree.api
        total = {"text": 0, "start": 0, "end": 0}
        general = dict.fromkeys(total, 0)
        kinds = {dom.TOK_TEXT: "text", dom.TOK_START: "start",
                 dom.TOK_END: "end"}
        reached = []
        for url, data in rows:
            mime, _ = api.detect_mime(data[:api.SNIFF_PREFIX_BYTES], url)
            if mime not in api.HTML_MIMES:
                continue
            builder = dom.TreeBuilder()
            for attr in _GENERAL_HANDLERS:
                if hasattr(builder, attr):
                    def counted(*a, _f=getattr(builder, attr)):
                        reached.append(True)
                        return _f(*a)
                    setattr(builder, attr, counted)
            for tok in dom.tokenize(ensure_html_utf8(data)):
                kind = kinds[tok[0]]
                total[kind] += 1
                reached.clear()
                builder.feed([tok])  # builder state lives on the instance
                general[kind] += bool(reached)
        return {k: round(1 - general[k] / total[k], 4) if total[k] else None
                for k in total} | {"tokens": sum(total.values())}
    finally:
        tree.deactivate()


def run(args) -> dict:
    rows = _rows(args)
    trees = [Tree(args.old), Tree(args.new)]
    took = [[], []]
    digests = [{}, {}]
    for rnd in range(args.rounds):
        for c, start in enumerate(range(0, len(rows), args.chunk)):
            chunk = rows[start:start + args.chunk]
            order = (0, 1) if (c + rnd) % 2 == 0 else (1, 0)
            for t in order:
                tree = trees[t]
                tree.activate()
                extract = tree.api.extract
                out = []
                t0 = time.perf_counter()
                for url, data in chunk:
                    out.append(extract(data, url=url))
                took[t].append(time.perf_counter() - t0)
                tree.deactivate()
                if rnd == 0:
                    for (url, _), res in zip(chunk, out):
                        digests[t][url] = K.digest(res)
    mismatched = sorted(u for u in digests[0] if digests[0][u] != digests[1][u])
    secs = [sum(t) / args.rounds for t in took]
    n_chunks = len(took[0]) // args.rounds
    per_round = [[sum(t[r * n_chunks:(r + 1) * n_chunks])
                  for r in range(args.rounds)] for t in took]
    return {
        "input": args.input, "seed": args.seed, "docs": len(rows),
        "rounds": args.rounds, "chunk": args.chunk,
        "old_s": round(secs[0], 4), "new_s": round(secs[1], 4),
        "old_docs_per_s": round(len(rows) / secs[0], 1),
        "new_docs_per_s": round(len(rows) / secs[1], 1),
        "speedup": round(secs[0] / secs[1], 4),
        "speedup_per_round": [round(a / b, 4) for a, b in zip(*per_round)],
        "chunk_ratio_median": round(statistics.median(
            a / b for a, b in zip(*took)), 4),
        "digests_equal": not mismatched,
        "mismatched": mismatched[:10],
        "old_fast_share": fast_shares(trees[0], rows),
        "new_fast_share": fast_shares(trees[1], rows),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--input", default="crawl_html",
                   choices=("crawl_html", "random", "attrs", "digest"))
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--n", type=int, default=4500)
    p.add_argument("--chunk", type=int, default=100)
    p.add_argument("--rounds", type=int, default=3)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0 if result["digests_equal"] else 1


if __name__ == "__main__":
    sys.exit(main())
