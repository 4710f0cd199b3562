"""Isolated re-measure of individual registry queries (VERDICT r4 #5:
driver-window timings are contended; the record needs quiet-box
numbers with the same calibration bench.py carries).

Runs each named query alone — fresh noop-sink materialization, persisted
tables released between queries, one untimed warmup of the first query —
and prints ONE JSON line with per-query seconds plus the cpu
calibration, suitable for pasting into the BENCH/BASELINE.md appendix.

Usage: python tools/bench_isolated.py [--sf-dir /root/testdata/sf0.1]
       [--repeats 3] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=None,
                    help="local[N] width (default: nproc)")
    ap.add_argument("--repeats", type=int, default=3,
                    help="timed repeats per query; the MIN is reported "
                    "(least-contended observation on a noisy box)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from docwire_spark.spark.session import default_cpus

    args.cpus = args.cpus or str(default_cpus())

    from bench import cpu_calibration

    cpu_single_s, cpu_eff_cores = cpu_calibration()

    import __spark_entry__ as ENTRY
    from docwire_spark.ops.common import release_persisted
    from docwire_spark.spark.session import build_session

    spark = build_session(
        master=f"local[{args.cpus}]",
        app_name="bench_isolated",
        shuffle_partitions=int(args.cpus),
    )
    qs = ENTRY.queries()
    missing = [q for q in args.queries if q not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    # warmup: JVM + python worker pool, outside every timed window
    qs[args.queries[0]](spark, args.sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_persisted()

    out = {}
    for name in args.queries:
        best, runs = None, []
        for _ in range(args.repeats):
            t0 = time.time()
            qs[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            release_persisted()
            dt = round(time.time() - t0, 2)
            runs.append(dt)
            best = dt if best is None else min(best, dt)
        out[name] = {"min_sec": best, "runs": runs}
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "queries": out,
        "cpu_ref_single_s": cpu_single_s,
        "cpu_eff_cores": cpu_eff_cores,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
