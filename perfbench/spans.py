"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded from the benchmark's own code, around its calls into
the program's public functions.  Each span holds a name, start, end,
the index of its parent span and a trace id (one per pass); spans stay
in memory and are written out once, when the run ends.

The event-log reader is stdlib only.  It attributes every task of a
Spark job to the job group the benchmark set with ``setJobGroup``
before submitting it, and sums task metrics and the Python-worker SQL
metrics per group.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.trace_id = None
        self.spans: list = []
        self._stack: list = []

    def begin(self, name: str, **attrs) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": parent, "trace": self.trace_id, **attrs,
        })
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.remove(idx)

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a ``name`` span."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def durations(self, name: str, since: int = 0) -> list:
        """Durations of the ended ``name`` spans from index ``since`` on."""
        return [
            s["end"] - s["start"] for s in self.spans[since:]
            if s["name"] == name and s["end"] is not None
        ]

    def self_times(self, since: int = 0) -> dict:
        """name -> summed self time of the spans from index ``since`` on:
        each span's duration minus the part of its interval that its
        child spans cover."""
        children: dict = {}
        for s in self.spans[since:]:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"])
                )
        out: dict = {}
        for i, s in enumerate(self.spans[since:], since):
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for lo, hi in sorted(children.get(i, ())):
                lo, hi = max(lo, reach), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["name"]] = (
                out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark event log ---------------------------------------------------------

#: task SQL metrics of the Python operators (mapInArrow, pandas UDFs)
PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


def _group_stats() -> dict:
    return {
        "jobs": 0, "task_s": [], "run_ms": 0, "cpu_ns": 0,
        "shuffle_bytes": 0, "spill_bytes": 0,
        **{k: 0 for k in PY_METRICS.values()},
    }


def read_event_log(path: str) -> dict:
    """job group -> summed stage metrics, from an uncompressed,
    non-rolling Spark event log."""
    groups: dict = {}
    stage_group: dict = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                g = groups.setdefault(group, _group_stats())
                g["jobs"] += 1
                for sid in e.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e.get("Stage ID"))
                g = groups.setdefault(group, _group_stats())
                info = e.get("Task Info") or {}
                metrics = e.get("Task Metrics") or {}
                g["task_s"].append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1000.0
                )
                g["run_ms"] += metrics.get("Executor Run Time", 0)
                g["cpu_ns"] += metrics.get("Executor CPU Time", 0)
                g["shuffle_bytes"] += (
                    metrics.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", ()):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        g[key] += int(acc.get("Update") or 0)
    return groups


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no finished event log for {app_id} "
                                f"in {log_dir}")
    return path


def extract_figures(g: dict) -> dict:
    """spark.extract.* figures of one job group (one pass)."""
    tasks = g["task_s"]
    p50 = statistics.median(tasks) if tasks else 0.0
    top = max(tasks) if tasks else 0.0
    return {
        "tasks": len(tasks),
        "task_s_p50": p50,
        "task_s_max": top,
        "task_skew": top / p50 if p50 else 0.0,
        "executor_run_s": g["run_ms"] / 1000.0,
        "executor_cpu_s": g["cpu_ns"] / 1e9,
        "py_bytes_sent": g["py_bytes_sent"],
        "py_bytes_returned": g["py_bytes_returned"],
        "py_boot_s": (g["py_start_ms"] + g["py_init_ms"]) / 1000.0,
        "py_run_s": g["py_run_ms"] / 1000.0,
    }
