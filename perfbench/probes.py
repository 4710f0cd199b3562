"""Measurements beside the Spark job: memory of the process tree, box
calibration, and the serial kernel pass of the traced run."""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: prctl option that makes orphaned descendants this process's children
_PR_SET_CHILD_SUBREAPER = 36


def descendants(root: int) -> list:
    """pids of every live descendant of ``root``, from /proc."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def become_subreaper() -> None:
    """Have every orphaned descendant reparented to this process, not to
    init.  Spark's Python worker daemon forks the workers and exits when
    the JVM does; without this its workers outlive the benchmark, out of
    reach of ``descendants``."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every descendant to exit, kill the ones
    left, and reap each until none is left, not even as a zombie."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants(me)
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while descendants(me) and time.monotonic() < deadline:
        _reap()
        time.sleep(0.05)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    return int(stat[stat.rindex(")") + 2:].split()[21]) * _PAGE


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc by one thread."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


# -- box calibration ---------------------------------------------------------

#: one burn: reports ready, waits for the go line, burns, prints seconds
_BURN_CHILD = """
import sys, time
print("ready", flush=True)
sys.stdin.readline()
t0 = time.perf_counter()
acc = 0
for i in range(1_000_000):
    acc += i * i % 7
print(time.perf_counter() - t0, flush=True)
"""


def _burns(width: int) -> list:
    """Seconds of each of ``width`` burns started together, one process
    each."""
    procs = [subprocess.Popen([sys.executable, "-c", _BURN_CHILD],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                              text=True)
             for _ in range(width)]
    try:
        for p in procs:
            p.stdout.readline()
        for p in procs:  # all started: let them burn together
            p.stdin.write("go\n")
            p.stdin.close()
        return [float(p.stdout.readline()) for p in procs]
    finally:
        for p in procs:  # each has printed its time, or it failed
            p.kill()
            p.wait()
            p.stdin.close()
            p.stdout.close()


def calibrate(width: int) -> dict:
    """Single-thread burn seconds and effective cores at ``width``
    concurrent burns (width x single / mean concurrent burn)."""
    import statistics

    single = statistics.median(_burns(1)[0] for _ in range(3))
    took = _burns(width)
    return {
        "cpu_ref_single_s": single,
        "cpu_eff_cores": width * single / statistics.mean(took),
    }


# -- serial kernel pass ------------------------------------------------------

#: kernel layers timed inside ``kernel.api.extract``: layer -> the name
#: ``kernel.api`` calls it by
KERNEL_SPLITS = {
    "sniff": "detect_mime",
    "charset": "ensure_html_utf8",
    "html_extract": "html_to_events",
    "renderer": "render_plain_text",
}


def kernel_pass(rows, expected: dict, tracer) -> tuple:
    """Run ``kernel.api.extract`` over ``rows`` (url, bytes, family) in
    this process, one span per document and per kernel layer call.
    Returns (kernel.* metrics, per-family docs/s, text mismatches)."""
    import statistics

    from docwire_spark.kernel import api

    originals = {attr: getattr(api, attr) for attr in KERNEL_SPLITS.values()}
    first_span = len(tracer.spans)
    doc_s, fam_s, fam_n = [], {}, {}
    n_bytes = mismatches = 0
    try:
        for layer, attr in KERNEL_SPLITS.items():
            setattr(api, attr, tracer.wrap(originals[attr], f"kernel.{layer}"))
        for url, data, family in rows:
            t0 = time.perf_counter()
            with tracer.span("kernel.api"):
                res = api.extract(data, url=url)
            took = time.perf_counter() - t0
            doc_s.append(took)
            fam_s[family] = fam_s.get(family, 0.0) + took
            fam_n[family] = fam_n.get(family, 0) + 1
            n_bytes += len(data)
            digest = hashlib.sha256(res.text).hexdigest()
            if res.error is not None or digest != expected[url][0]:
                mismatches += 1
    finally:
        for attr, fn in originals.items():
            setattr(api, attr, fn)
    total = sum(doc_s)
    ms = sorted(t * 1000.0 for t in doc_s)
    kernel = {
        "kernel.api.docs_per_s": len(doc_s) / total,
        "kernel.api.mb_per_s": n_bytes / 1e6 / total,
        "kernel.api.doc_ms_p50": statistics.median(ms),
        "kernel.api.doc_ms_p99": ms[min(len(ms) - 1, int(0.99 * len(ms)))],
        "kernel.api.self_s":
            tracer.self_times(first_span).get("kernel.api", 0.0),
        **{f"kernel.{layer}.s":
           sum(tracer.durations(f"kernel.{layer}", first_span))
           for layer in KERNEL_SPLITS},
    }
    families = {f: fam_n[f] / fam_s[f] for f in fam_n}
    return kernel, families, mismatches
