"""Driver-style correctness check: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same sf dir; compare row count,
column names/order-insensitive value hash.

Also records a per-query PHYSICAL-PLAN fingerprint (VERDICT r3 #5):
a normalized hash of explainString('simple') plus counts of the
operators that signal a scale regression (Exchange, CartesianProduct,
Python eval, SortMergeJoin, Window).  Fingerprints are written to
PLANS.json at the repo root and diffed against the committed baseline
— so a silent plan regression (a new shuffle, a join that stopped
broadcasting) is caught even when the ANSWER stays right.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: physical operators whose appearance/count changing is the signature
#: of a scale regression, answer unchanged
_PLAN_OPS = (
    "Exchange", "CartesianProduct", "BroadcastNestedLoopJoin",
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "Window",
    "Sort", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
)

PLANS_PATH = os.path.join(_REPO, "PLANS.json")
COVERAGE_PATH = os.path.join(_REPO, "COVERAGE.md")


def write_coverage_ledger(qs: dict, sweep_pass: set, sweep_fail: set,
                          window: list, rows_only: set = frozenset()) -> None:
    """Driver-coverage debt ledger (VERDICT r4 #7): one row per
    registry query mapping it to the latest round with a GREEN driver
    CORRECTNESS row, so window-rotation debt stays visible.  Driver
    data comes from the committed CORRECTNESS_r*.json artifacts; the
    sweep column reflects THIS full check_oracles run."""
    import glob

    latest_green: dict[str, int] = {}
    latest_any: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO,
                                              "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        for name, rec in rows.items():
            latest_any[name] = max(latest_any.get(name, 0), rnd)
            green = (rec.get("rows_match") and rec.get("schema_match")
                     and rec.get("hash_match") and not rec.get("err"))
            if green:
                latest_green[name] = max(latest_green.get(name, 0), rnd)
    names = sorted(qs)
    never = [n for n in names if n not in latest_green]
    in_window = set(window)
    lines = [
        "# Driver-coverage ledger",
        "",
        "Regenerated by `python tools/check_oracles.py` (full sweeps "
        "only).  `driver green` = latest round whose committed "
        "CORRECTNESS_r{N}.json has rows+schema+hash all matching; the "
        "driver verifies the first 50 registry entries "
        "(PRIORITY_WINDOW in `__spark_entry__.py`) each round, so "
        "out-of-window queries keep their last green round.  `sweep` "
        "= this local full-registry oracle run.",
        "",
        f"Driver-confirmed at least once: "
        f"**{len(names) - len(never)}/{len(names)}**"
        + (f"; never driver-verified: {', '.join(never)}" if never
           else " — no coverage debt."),
        "",
        "| query | driver green | last driver row | in r5 window | "
        "sweep |",
        "|---|---|---|---|---|",
    ]
    for n in names:
        g = f"r{latest_green[n]}" if n in latest_green else "—"
        a = f"r{latest_any[n]}" if n in latest_any else "—"
        w = "yes" if n in in_window else ""
        s = ("rows-only" if n in rows_only  # no oracle: never compared
             else "PASS" if n in sweep_pass
             else "FAIL" if n in sweep_fail else "—")
        lines.append(f"| {n} | {g} | {a} | {w} | {s} |")
    with open(COVERAGE_PATH, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"coverage ledger: {len(names)} queries -> {COVERAGE_PATH}"
          f" ({len(never)} never driver-verified)")


def plan_fingerprint(df) -> dict:
    """Normalized plan hash + operator counts for one query plan."""
    jvm = df.sparkSession._jvm
    s = jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # strip volatile tokens: expression ids (#123L), plan ids, temp
    # paths, statistics sizes
    norm = re.sub(r"#\d+L?", "#", s)
    norm = re.sub(r"plan_id=\d+", "plan_id=", norm)
    norm = re.sub(r"/[^\s,)\]]*(?:/[^\s,)\]]*)+", "/PATH", norm)
    norm = re.sub(r"\d+\.\d+ [KMG]i?B", "SIZE", norm)
    ops = {}
    for op in _PLAN_OPS:
        n = len(re.findall(rf"\b{op}\b", s))
        if n:
            ops[op] = n
    return {
        "hash": hashlib.sha256(norm.encode()).hexdigest()[:16],
        "ops": ops,
    }


def diff_plans(prev: dict, cur: dict) -> list[str]:
    """Human-readable regression notes comparing two fingerprint maps."""
    notes = []
    for name, fp in sorted(cur.items()):
        old = prev.get(name)
        if old is None:
            notes.append(f"NEW   {name}: ops={fp['ops']}")
            continue
        if old["ops"] != fp["ops"]:
            keys = sorted(set(old["ops"]) | set(fp["ops"]))
            delta = {
                k: (old["ops"].get(k, 0), fp["ops"].get(k, 0))
                for k in keys
                if old["ops"].get(k, 0) != fp["ops"].get(k, 0)
            }
            notes.append(f"OPS   {name}: {delta}")
        elif old["hash"] != fp["hash"]:
            notes.append(f"SHAPE {name}: plan hash changed, op counts same")
    return notes


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as ENTRY
    from docwire_spark.spark.session import build_session

    spark = build_session(master="local[8]", app_name="check_oracles",
                          shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = ENTRY.queries(), ENTRY.oracle_sql()
    failed = []
    rows_only: set[str] = set()
    plans: dict[str, dict] = {}
    from docwire_spark.ops.common import release_persisted

    for name, fn in qs.items():
        if only and name not in only:
            continue
        release_persisted()  # free tables cached by the previous query
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            plans[name] = plan_fingerprint(df)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            plans.pop(name, None)  # fingerprint may precede the error
            continue
        if name not in os_:
            print(f"OK?  {name}: rows={len(rows)} (no oracle, rows-only)")
            rows_only.add(name)
            continue
        try:
            ores = con.execute(os_[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failed.append(name)
            plans.pop(name, None)
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if not problems:
            hs, ho = value_hash(rows, cols), value_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                order_s = sorted(range(len(cols)), key=lambda i: cols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in rows)
                lo = sorted("\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows)
                diffs = [(a, b) for a, b in zip(ls, lo) if a != b][:3]
                for a, b in diffs:
                    print(f"   spark:  {a[:200]!r}")
                    print(f"   duckdb: {b[:200]!r}")
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name} ({dt:.1f}s): {'; '.join(problems)}")
            failed.append(name)
            # a failing query's plan must never enter the baseline
            plans.pop(name, None)
        else:
            print(f"PASS {name} ({dt:.1f}s): rows={len(rows)}")
    spark.stop()
    # plan-fingerprint artifact + drift report vs the committed baseline
    prev = {}
    if os.path.exists(PLANS_PATH):
        with open(PLANS_PATH) as f:
            prev = json.load(f)
    notes = diff_plans({k: v for k, v in prev.items() if k in plans},
                       plans)
    for n in notes:
        print("PLAN-DIFF", n)
    # merge-always: keep prior baselines for queries this run did not
    # PASS (skipped, errored, or hash-failed) so a partial/red run can
    # never destroy a committed plan baseline; drop only entries whose
    # query no longer exists in the registry
    merged = {k: v for k, v in prev.items() if k in qs}
    merged.update(plans)
    with open(PLANS_PATH, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"plan fingerprints: {len(plans)} recorded -> {PLANS_PATH}"
          f" ({len(notes)} drift notes)")
    if not only:
        # full sweeps refresh the driver-coverage debt ledger
        ran = {n for n in qs}
        write_coverage_ledger(
            qs, sweep_pass=ran - set(failed) - rows_only,
            sweep_fail=set(failed),
            window=ENTRY.PRIORITY_WINDOW, rows_only=rows_only,
        )
    if failed:
        print("FAILED:", ", ".join(failed))
        sys.exit(1)
    print("all queries match their oracles")


if __name__ == "__main__":
    main()
