"""Self-test of the benchmark: span arithmetic, the event-log reader,
seeded input caching, and a smoke run of each workload at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, probes, spans, workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench", "selftest")


@pytest.fixture()
def work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    yield WORK
    shutil.rmtree(WORK, ignore_errors=True)


def test_self_time_subtracts_covered_child_interval():
    t = spans.Tracer()
    t.spans = [
        {"name": "pass", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 3.0, "parent": 0},
        {"name": "b", "start": 2.0, "end": 5.0, "parent": 0},  # overlaps a
        {"name": "c", "start": 8.0, "end": 12.0, "parent": 0},  # runs past
        {"name": "d", "start": 2.5, "end": 2.75, "parent": 2},
    ]
    self_s = t.self_times()
    assert self_s["pass"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_s["b"] == pytest.approx(3.0 - 0.25)
    assert t.self_times(since=1)["b"] == pytest.approx(2.75)
    assert t.durations("c") == [4.0]


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.wrap(len, "y")("ab") == 2
    assert t.spans == []


def test_a_commit_that_skips_groups_is_a_problem():
    class Writer:
        out_dir, groups = "final", 16

    assert workloads.commit_problems(Writer, {"groups_written": 16}) == []
    assert workloads.commit_problems(Writer, {"groups_written": 0}) != []


def test_orphaned_grandchildren_are_ended_and_reaped():
    # the shell exits at once and leaves its background sleep orphaned,
    # as Spark's worker daemon leaves its workers when the JVM exits
    script = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import probes\n"
        "probes.become_subreaper()\n"
        "out = subprocess.run(\n"
        "    ['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "    capture_output=True, text=True).stdout\n"
        "orphan = int(out)\n"
        "assert probes.descendants(os.getpid()) == [orphan]\n"
        "t0 = time.monotonic()\n"
        "probes.end_descendants(0.2)\n"
        "assert time.monotonic() - t0 < 10\n"
        "assert probes.descendants(os.getpid()) == []\n"
        "assert not os.path.exists(f'/proc/{orphan}')\n"
    )
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr


def test_calibration_leaves_no_process():
    cal = probes.calibrate(2)
    assert cal["cpu_ref_single_s"] > 0 and cal["cpu_eff_cores"] > 0
    assert probes.descendants(os.getpid()) == []


def _event(kind, **fields):
    return json.dumps({"Event": kind, **fields}) + "\n"


def test_event_log_attributes_tasks_to_job_groups(work):
    path = os.path.join(work, "app")
    with open(path, "w") as f:
        f.write(_event("SparkListenerJobStart", **{
            "Job ID": 0, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "pass.0"}}))
        f.write(_event("SparkListenerJobStart", **{
            "Job ID": 1, "Stage IDs": [2], "Properties": {}}))
        for stage, ms, py in ((0, 1000, 7), (1, 3000, 0), (2, 500, 0)):
            f.write(_event("SparkListenerTaskEnd", **{
                "Stage ID": stage,
                "Task Info": {
                    "Launch Time": 0, "Finish Time": ms,
                    "Accumulables": [
                        {"Name": "data sent to Python workers",
                         "Update": str(py)},
                        {"Name": "time to run Python workers",
                         "Update": "250"},
                    ]},
                "Task Metrics": {
                    "Executor Run Time": ms, "Executor CPU Time": ms * 10**6,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                    "Disk Bytes Spilled": 5},
            }))
    groups = spans.read_event_log(path)
    g = groups["pass.0"]
    assert g["jobs"] == 1 and g["task_s"] == [1.0, 3.0]
    assert g["shuffle_bytes"] == 22 and g["spill_bytes"] == 10
    assert g["py_bytes_sent"] == 7
    assert groups[None]["jobs"] == 1
    layer = spans.extract_figures(g)
    assert layer["tasks"] == 2 and layer["task_skew"] == pytest.approx(1.5)
    assert layer["executor_cpu_s"] == pytest.approx(4.0)
    assert layer["py_run_s"] == pytest.approx(0.5)


def test_inputs_are_seeded_cached_and_digest_checked(work):
    a = inputs.prepare("crawl_html", 5, 300, 2, work)
    assert a.gen_s > 0 and a.docs == 300 and len(a.expected) == 300
    again = inputs.prepare("crawl_html", 5, 300, 2, work)
    assert again.gen_s == 0.0 and again.expected == a.expected
    # exactly 1% oversized pages
    sizes = [len(html) for _u, html, _f in inputs.read_rows(a)]
    assert sum(s > 262_144 for s in sizes) == 3
    # a damaged cache entry is rebuilt, to the same bytes
    with open(a.path, "r+b") as f:
        f.write(b"junk")
    rebuilt = inputs.prepare("crawl_html", 5, 300, 2, work)
    assert rebuilt.gen_s > 0 and rebuilt.expected == a.expected
    other = inputs.prepare("crawl_html", 6, 300, 2, work)
    assert other.expected != a.expected


def test_pipeline_input_has_one_file_per_core(work):
    inp = inputs.prepare("crawl_pipeline", 1, 64, 4, work)
    assert len(os.listdir(inp.path)) == 4
    assert len(os.listdir(inp.warm_path)) == 4


def test_office_input_is_one_row_group_of_every_format(work):
    import pyarrow.parquet as pq

    inp = inputs.prepare("office_mix", 2, 60, 4, work)
    assert pq.ParquetFile(inp.path).num_row_groups == 1
    fmts = [u.rsplit(".", 1)[1] for u in inp.expected]
    assert all(fmts.count(f) == 4 for f in inputs.office_formats())


@pytest.mark.parametrize("workload,n,families", [
    ("crawl_html", 30, set(inputs.FAMILIES) - {"html"}),
    ("office_mix", 100, {"html"}),
])
def test_family_sample_matches_the_kernel(workload, n, families):
    rows, expected = inputs.family_sample(workload, 3, n)
    assert len(rows) == n
    tracer = spans.Tracer()
    kernel, got, bad = probes.kernel_pass(rows, expected, tracer)
    assert bad == 0
    assert set(got) == families
    assert kernel["kernel.api.docs_per_s"] > 0


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload",
                         ["crawl_html", "office_mix", "crawl_pipeline"])
def test_smoke_run_prints_every_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        result = _result(_run([
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--smoke"]))
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        assert list(result["metrics"]) == [m["name"] for m in spec[kind]]
        for m in spec[kind]:
            assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert probes.descendants(os.getpid()) == []


def test_refuses_to_run_without_the_program(work):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(work, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "crawl_html", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=work)
    assert proc.returncode not in (0, None)
    assert '"metrics"' not in proc.stdout
