"""Benchmark of docwire_spark, run from the repository root:

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 10 \\
        --trace 0

Workloads (see BENCHMARK.json for why each exists): ``crawl_html`` and
``crawl_pipeline``.  ``office_mix`` (equal shares of the 15 office,
binary and docstream formats, one row group, so one scan split) runs the
same way but is not in BENCHMARK.json: its single task per pass made its
run-to-run spread on a shared 4-vCPU host wider than the largest bound.
Load is a closed loop: this one driver process submits one job at a time
to ``local[nproc]``.

A run
1. builds (or reuses, after a digest check) the seeded input;
2. sets up ``SETUP_REPS`` times -- session start and package ship, input
   read, warm-up job -- the first time from process start;
3. submits the workload's job again and again for ``--seconds``;
4. checks the program's outputs, outside the timed window;
5. with ``--trace 1``, first submits one untraced warm-up pass, then
   after step 3 restarts the session with the Spark event log on and
   repeats step 3 traced, adds identity ``mapInArrow`` passes, re-runs
   the last commit (a no-op), runs serial kernel passes (over the
   workload rows and, for the per-family rates, over a seeded sample of
   the format families the input lacks), and reads the per-layer ledger
   out of the spans and the event log.

Progress goes to stderr.  Stdout gets one ``{"context": ...}`` line
(box calibration, input and correctness details) and, last, the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``).  The exit code is 1 when a correctness check fails and
2 when the program is not beside the benchmark.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_html", "office_mix", "crawl_pipeline")
#: set-ups per untraced run: the cold one from process start and a
#: session restart in the warm JVM.  setup_s is their median (with two,
#: their mean), so slower JVM start and slower session set-up both show.
#: A traced run reports no setup_s and sets up once.
SETUP_REPS = 2
IDENTITY_PASSES = 3
#: driver JVM heap: leaves most of a 15 GB box to the Python workers
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one set-up, for the self-test")
    return ap.parse_args(argv)


def program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, *p))
        for p in (("docwire_spark", "__init__.py"),
                  ("jobs", "pipeline_job.py"))
    )


def use_work_dir(work: str, nproc: int) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and size the program's own defaults for this box."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",  # no hsperfdata file under /tmp
    )))


def start_session(nproc: int, tracer, span: str, extra_conf=None):
    from docwire_spark.spark.session import build_session

    with tracer.span(span):
        return build_session(
            master=f"local[{nproc}]", app_name="perfbench",
            shuffle_partitions=nproc, extra_conf=extra_conf,
        )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process they started, and
    wait for each to end."""
    from pyspark import SparkContext

    from perfbench.probes import end_descendants

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    end_descendants(30)


def timed_window(wl, spark, df, seconds, run_dir, tracer, group=None):
    """Submit the workload's job until ``seconds`` have passed (at least
    once); returns (wall seconds per pass, job results, the last pass's
    output directory).  Every pass writes into a directory of its own, so
    no pass finds an earlier pass's commit; only the last pass's output
    is kept on disk, for the correctness check."""
    walls, results = [], []
    window = group or "untraced"
    deadline = time.perf_counter() + seconds
    while True:
        i = len(walls)
        out = os.path.join(run_dir, f"{window}{i}")
        if os.path.exists(out):
            raise RuntimeError(f"{out} was written before")
        shutil.rmtree(os.path.join(run_dir, f"{window}{i - 1}"),
                      ignore_errors=True)
        tracer.trace_id = f"{window}.{i}"
        t0 = time.perf_counter()
        with tracer.span("pass"):
            result = wl.job(spark, df, out, tracer,
                            None if group is None else f"{group}.{i}")
        walls.append(time.perf_counter() - t0)
        results.append(result)
        wl.after_pass(spark, out, result)
        if time.perf_counter() >= deadline:
            break
    tracer.trace_id = None
    return walls, results, out


def warm_passes(wl, spark, df, run_dir, tracer) -> list:
    """Untimed passes for ``wl.WARM_S`` seconds, none when it is 0.  The
    first passes after set-up run slower while the Python workers and
    the JVM warm up; a window that held them would read the warm-up."""
    walls, enabled = [], tracer.enabled
    tracer.enabled = False
    deadline = time.perf_counter() + wl.WARM_S
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        wl.job(spark, df, os.path.join(run_dir, f"warm{len(walls)}"), tracer)
        walls.append(time.perf_counter() - t0)
    tracer.enabled = enabled
    return walls


def identity_fn():
    """mapInArrow body that returns its batches unchanged (nested so
    cloudpickle ships it by value)."""
    def identity(batches):
        yield from batches
    return identity


def lineage_layer(wl, tracer) -> dict:
    """spark.lineage.* of the traced commits (the pipeline's final
    commits, or the extract workloads' checked commit), then of
    re-running the last one; needs the live session."""
    from docwire_spark.spark.lineage import CheckpointedWriter

    writer, kept, _stats = wl.commits[-1]
    commit_s = statistics.median(tracer.durations("spark.lineage.commit"))
    files = [os.path.join(d, f) for d, _, fs in os.walk(writer.out_dir)
             for f in fs if f.endswith(".parquet")]
    t0 = time.perf_counter()
    rerun = CheckpointedWriter(writer.out_dir, writer.n_shards,
                               writer.groups).run(kept)
    rerun_s = time.perf_counter() - t0
    if rerun.get("groups_written") != 0:
        raise RuntimeError(f"re-running a committed writer wrote: {rerun}")
    return {
        "spark.lineage.commit_s": commit_s,
        "spark.lineage.bytes_written": sum(os.path.getsize(f) for f in files),
        "spark.lineage.files_written": len(files),
        "spark.lineage.rerun_s": rerun_s,
    }


def pipeline_layer(tracer, groups: dict, traced_results: list) -> dict:
    """pipeline.<phase>.* of the traced passes."""
    from perfbench.workloads import PHASES

    med = statistics.median
    out = {}
    for p in PHASES:
        gs = [groups[f"pass.{i}.{p}"] for i in range(len(traced_results))]
        out[f"pipeline.{p}.wall_s"] = med(tracer.durations(f"pipeline.{p}"))
        out[f"pipeline.{p}.docs"] = med(r["phases"][p]["docs"]
                                        for r in traced_results)
        for k in ("jobs", "shuffle_bytes", "spill_bytes"):
            out[f"pipeline.{p}.{k}"] = med(g[k] for g in gs)
    return out


def extract_layer(groups: dict, n_traced: int, suffix: str = "") -> dict:
    """spark.extract.* figures, each the median over the traced passes."""
    from perfbench.spans import extract_figures

    per_pass = [extract_figures(groups[f"pass.{i}{suffix}"])
                for i in range(n_traced)]
    return {f"spark.extract.{k}": statistics.median(p[k] for p in per_pass)
            for k in per_pass[0]}


def set_up(wl, inp, nproc, tracer, run_dir, reps):
    """Session start and package ship, input read and warm-up job,
    ``reps`` times; the first time is counted from process start."""
    spark, setups = None, []
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(nproc, tracer, "spark.session")
        df = spark.read.parquet(inp.path)
        wl.warm(spark, inp, run_dir, tracer)
        took = time.perf_counter() - t0
        if rep == 0:  # from process start, without input generation
            took += t0 - T_START - inp.gen_s
        setups.append(took)
    return spark, df, setups


def start_traced_session(nproc, tracer, log_dir):
    os.makedirs(log_dir)
    return start_session(nproc, tracer, "spark.session.traced", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })


def identity_passes(spark, df) -> list:
    from perfbench.workloads import set_group

    walls = []
    for i in range(IDENTITY_PASSES):
        set_group(spark, f"identity.{i}")
        t0 = time.perf_counter()
        df.select("url", "html").mapInArrow(
            identity_fn(), "url string, html binary"
        ).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    set_group(spark, None)
    return walls


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        log(f"docwire_spark and jobs/pipeline_job.py must sit in {ROOT}")
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    use_work_dir(work, nproc)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        from perfbench import inputs, probes, spans, workloads
    except ImportError as exc:
        log(f"cannot import the program or its toolchain: {exc}")
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]

    size = inputs.SIZES[args.workload][1 if args.smoke else 0]
    inp = inputs.prepare(args.workload, args.seed, size, nproc,
                         os.path.join(work, "inputs"))
    log(f"{args.workload} seed={args.seed}: {inp.docs} docs, "
        f"{inp.bytes / 1e6:.1f} MB, generated in {inp.gen_s:.1f}s")
    wl = workloads.make(args.workload, ROOT)
    tracer = spans.Tracer(enabled=bool(args.trace))
    run_dir = os.path.join(work, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
               "docs": inp.docs, "input_mb": inp.bytes / 1e6,
               "input_gen_s": inp.gen_s}
    spark = None
    try:
        spark, df, setups = set_up(wl, inp, nproc, tracer, run_dir,
                                   1 if args.smoke or args.trace
                                   else SETUP_REPS)
        context["setup_reps_s"] = setups
        log(f"set up: {[round(s, 2) for s in setups]}")

        tracer.enabled = False
        if args.trace:
            # set-up warms extract_pages only; one untraced pass warms the
            # rest of the job (the pipeline's later phases), so that the
            # tracing overhead compares warm passes with warm passes.  The
            # pipeline still speeds up over later passes as the JVM
            # compiles, so its overhead can read below 0.
            t0 = time.perf_counter()
            wl.job(spark, df, os.path.join(run_dir, "prime"), tracer)
            context["prime_s"] = time.perf_counter() - t0
        context["warm_walls_s"] = warm_passes(wl, spark, df, run_dir, tracer)
        with probes.RssSampler() as rss:
            walls, results, last_out = timed_window(
                wl, spark, df, args.seconds, run_dir, tracer)
        context["pass_walls_s"] = walls
        log(f"timed passes: {[round(w, 2) for w in walls]}")
        wall = statistics.median(walls)
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "docs_per_s": inp.docs / wall,
            "mb_per_s": inp.bytes / 1e6 / wall,
            "peak_rss_mb": rss.peak_bytes / 1e6,
        }

        if args.trace:
            # the same passes again, traced: spans and Spark event log on
            tracer.enabled = True
            spark.stop()
            log_dir = os.path.join(run_dir, "eventlog")
            spark = start_traced_session(nproc, tracer, log_dir)
            df = spark.read.parquet(inp.path)
            wl.warm(spark, inp, run_dir, tracer)
            warm_passes(wl, spark, df, run_dir, tracer)
            traced_walls, traced, last_out = timed_window(
                wl, spark, df, args.seconds, run_dir, tracer, group="pass")
            results += traced
            ident = identity_passes(spark, df)

        check = wl.check(spark, df, inp, last_out, results, tracer)
        log("checked")
        if args.trace:
            lineage = lineage_layer(wl, tracer)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)
    log("session stopped")

    if args.trace:
        groups = spans.read_event_log(spans.find_event_log(log_dir, app_id))
        kernel, families, bad = probes.kernel_pass(
            inputs.read_rows(inp), inp.expected, tracer)
        other_rows, other_expected = inputs.family_sample(args.workload,
                                                          args.seed)
        _, other_families, other_bad = probes.kernel_pass(
            other_rows, other_expected, tracer)
        families.update(other_families)
        bad += other_bad
        if bad:
            check.problems.append(f"serial kernel passes: {bad} text "
                                  "mismatches")
        metrics = {
            **kernel,
            **{f"kernel.family.{f}.docs_per_s": families[f]
               for f in inputs.FAMILIES},
            "spark.session.start_s":
                statistics.median(tracer.durations("spark.session")),
            "tracing.overhead_s":
                statistics.median(traced_walls) - statistics.median(walls),
            "spark.extract.identity_s": statistics.median(ident),
            **lineage,
        }
        if args.workload == "crawl_pipeline":
            # the extract phase: extract_pages, stage-1 write and count
            metrics.update(extract_layer(groups, len(traced), ".extract"))
            metrics.update(pipeline_layer(tracer, groups, traced))
            extract_wall = metrics["pipeline.extract.wall_s"]
        else:
            metrics.update(extract_layer(groups, len(traced)))
            # BENCHMARK.json asks every traced run for every per-layer
            # metric; these workloads run no pipeline phase, so the
            # pipeline.* layer reads 0 here and the context says so
            idle = [m["name"] for m in wanted
                    if m["name"].startswith("pipeline.")]
            metrics.update(dict.fromkeys(idle, 0))
            context["layers_not_exercised"] = ["pipeline"]
            extract_wall = wall
        metrics["spark.extract.parallel_eff"] = inp.docs / extract_wall / (
            nproc * metrics["kernel.api.docs_per_s"])
        tracer.dump(os.path.join(work, f"spans-{args.workload}.json"))

    context.update(probes.calibrate(nproc))
    context.update({
        "text_mismatches": check.mismatches,
        "failed_ratio": check.failed / max(1, check.attempted),
        "problems": check.problems[:20],
    })
    if args.workload == "crawl_pipeline":
        context["kept_digest"] = wl.kept_digests[-1]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": check.ok,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    if not check.ok:
        log(f"correctness check failed: {check.mismatches} text mismatches, "
            f"{check.failed} failed rows, problems: {check.problems[:5]}")
        return 1
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench import probes

    # every process the run starts, on every way out of it, is this
    # process's child, and ends before it does
    probes.become_subreaper()
    try:
        code = main()
    finally:
        probes.end_descendants(30)
    sys.exit(code)
