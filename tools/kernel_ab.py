"""Interleaved A/B timing of two docwire_spark kernel trees, one child
process per tree.

Usage:
    python tools/kernel_ab.py OLD_TREE NEW_TREE [--input crawl_html]
        [--seed 7] [--n 4500] [--chunk 100] [--rounds 3]

Each tree is a directory holding a ``docwire_spark`` package (for
example a ``git archive`` of the parent commit, and this checkout).
Each tree runs in its own child process, so the two trees share no
heap and no garbage collector: a tree that leaves cyclic garbage pays
for its collections itself.  The children are timed on the same
documents in alternating chunks of ``--chunk`` documents (one child
runs while the other waits, and the order flips every chunk), so
box-speed drift falls on both trees alike: back-to-back runs of one
kernel differ by far more than the changes being measured.  Each child
first extracts every input once, untimed, so first-use imports (one
per document format) fall outside the timed chunks.  Every
document's plain-text extraction must digest equal in both trees
(``tests/kernel_inputs.digest``: text, spans, n_events, meta, mime,
error), or the tool exits 1.

Inputs (``--input``):
- ``crawl_html``: the benchmark's crawl pages (``perfbench.inputs``
  rows for ``--seed``, ``--n`` of them);
- ``random`` / ``attrs``: the grammar-generated HTML of
  ``tests/kernel_inputs.py`` (``attrs`` carries several attributes on
  every tag);
- ``digest``: every input of the digest gate.

Output: one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests import kernel_inputs as K  # noqa: E402  (imports no docwire_spark)


def _rows(args) -> list:
    """(url, bytes) inputs, built from this checkout."""
    if args.input == "crawl_html":
        from perfbench.inputs import _crawl_rows

        return [(u, h) for u, h, *_ in _crawl_rows(args.n, args.seed)]
    if args.input == "random":
        return list(K.random_rows(args.n, seed=args.seed))
    if args.input == "attrs":
        return list(K.random_rows(args.n, seed=args.seed, attr_heavy=True))
    return list(K.all_rows())


def child(tree: str, rows_path: str) -> None:
    """Serve timing requests for one tree: each stdin line names a
    chunk ``start end digest``; the reply is one JSON line with the
    seconds ``extract`` took over it (and the digests when asked)."""
    sys.path.insert(0, os.path.abspath(tree))
    from docwire_spark.kernel.api import extract

    if not extract.__code__.co_filename.startswith(os.path.abspath(tree)):
        sys.exit(f"{extract.__code__.co_filename} is not under {tree}")
    with open(rows_path, "rb") as f:
        rows = pickle.load(f)
    for url, data in rows:  # untimed: first-use imports happen here
        extract(data, url=url)
    for line in sys.stdin:
        start, end, want = map(int, line.split())
        chunk = rows[start:end]
        out = []
        t0 = time.perf_counter()
        for url, data in chunk:
            out.append(extract(data, url=url))
        took = time.perf_counter() - t0
        digests = ({url: K.digest(res) for (url, _), res in zip(chunk, out)}
                   if want else None)
        print(json.dumps({"s": took, "digests": digests}), flush=True)


def run(args) -> dict:
    rows = _rows(args)
    with tempfile.TemporaryDirectory() as tmp:
        rows_path = os.path.join(tmp, "rows.pickle")
        with open(rows_path, "wb") as f:
            pickle.dump(rows, f)
        procs = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--child", tree,
                 rows_path],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for tree in (args.old, args.new)
        ]
        took = [[], []]
        digests = [{}, {}]
        try:
            for rnd in range(args.rounds):
                for c, start in enumerate(range(0, len(rows), args.chunk)):
                    order = (0, 1) if (c + rnd) % 2 == 0 else (1, 0)
                    for t in order:
                        procs[t].stdin.write(
                            f"{start} {start + args.chunk} {int(rnd == 0)}\n")
                        procs[t].stdin.flush()
                        reply = procs[t].stdout.readline()
                        if not reply:
                            sys.exit(f"the child for {(args.old, args.new)[t]} "
                                     "exited")
                        reply = json.loads(reply)
                        took[t].append(reply["s"])
                        digests[t].update(reply["digests"] or {})
        finally:
            for p in procs:
                p.stdin.close()
                p.wait()
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
    }


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--child"]:
        child(*argv[1:])
        return 0
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
