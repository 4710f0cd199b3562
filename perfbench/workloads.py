"""The workloads: the job each timed pass submits, its warm-up, and the
correctness gate run outside the timed window.

- ``crawl_html`` and ``office_mix``: ``spark.extract.extract_pages`` over
  the input, into the noop sink.  In a traced run their check commits
  the extraction with a ``CheckpointedWriter`` and reads it back, which
  gives the lineage layer a commit to time.
- ``crawl_pipeline``: ``jobs/pipeline_job.run_pipeline`` over the input,
  ending in the ``CheckpointedWriter`` commit.  Its six phases are told
  apart by wrapping the two program functions ``run_pipeline`` looks up
  at call time: ``ops.common.release_persisted`` (called once after each
  phase) and ``spark.lineage.CheckpointedWriter`` (the final commit).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from contextlib import contextmanager

PHASES = ("extract", "quality_filter", "lm_tail_drop", "pii_redact",
          "dedup_exact", "dedup_near_dup")


def set_group(spark, group: str | None) -> None:
    """Tag the jobs submitted next with ``group`` (None clears it)."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def _text_sha(col: str):
    from pyspark.sql import functions as F

    return F.sha2(F.encode(F.col(col), "UTF-8"), 256)


class Check:
    """Outcome of one correctness gate."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0  # rows the program reported an error for
        self.mismatches = 0  # urls whose text differs from the expected bytes
        self.problems: list = []

    @property
    def ok(self) -> bool:
        return not (self.failed or self.mismatches or self.problems)


def extract_to_noop(spark, df, group: str | None = None) -> None:
    from docwire_spark.spark.extract import extract_pages

    set_group(spark, group)
    try:
        extract_pages(df).write.format("noop").mode("overwrite").save()
    finally:
        set_group(spark, None)


def commit_problems(writer, stats: dict) -> list:
    """A commit that skipped groups did not write what it was given."""
    if stats.get("groups_written") != writer.groups:
        return [f"commit to {writer.out_dir} wrote {stats}"]
    return []


class ExtractWorkload:
    """``extract_pages`` -> noop sink."""

    #: seconds of untimed passes before the timed window
    WARM_S = 2.0

    def __init__(self):
        self.commits: list = []  # (writer, committed DataFrame, stats)

    def job(self, spark, df, out_dir, tracer, group=None):
        extract_to_noop(spark, df, group)

    def warm(self, spark, inp, run_dir, tracer):
        extract_to_noop(spark, spark.read.parquet(inp.warm_path))

    def after_pass(self, spark, out_dir, result) -> None:
        pass

    def check(self, spark, df, inp, out_dir, results, tracer) -> Check:
        """``out_dir`` is the last pass's, which the noop job leaves
        empty: a traced run commits the extraction there."""
        from docwire_spark.spark.extract import DEFAULT_SHARDS, extract_pages
        from docwire_spark.spark.lineage import CheckpointedWriter

        check = Check()
        extracted = extract_pages(df)
        if tracer.enabled:
            writer = CheckpointedWriter(os.path.join(out_dir, "commit"),
                                        n_shards=DEFAULT_SHARDS)
            with tracer.span("spark.lineage.commit"):
                stats = writer.run(extracted)
            self.commits.append((writer, extracted, stats))
            check.problems += commit_problems(writer, stats)
            extracted = writer.read(spark)
        rows = extracted.select(
            "url", _text_sha("extracted_text").alias("h"), "mime", "error"
        ).collect()
        check.attempted = len(inp.expected)
        seen = set()
        for r in rows:
            if r["url"] in seen or r["url"] not in inp.expected:
                check.problems.append(f"{r['url']}: unexpected output row")
                continue
            seen.add(r["url"])
            digest, _family, mime = inp.expected[r["url"]]
            check.failed += r["error"] is not None
            if r["h"] != digest:
                check.mismatches += 1
            elif r["mime"] != mime:
                check.problems.append(f"{r['url']}: mime {r['mime']}")
        check.mismatches += len(inp.expected) - len(seen)  # rows lost
        return check


def _load_run_pipeline(root: str):
    path = os.path.join(root, "jobs", "pipeline_job.py")
    spec = importlib.util.spec_from_file_location("pipeline_job", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.run_pipeline


class PipelineWorkload:
    """``run_pipeline`` from extraction to the checkpointed commit.

    Set-up warms only ``extract_pages``, so the first timed pass is the
    pipeline's first run in the session, as for a batch job submitted
    once: JVM compilation of its later phases' many small jobs is part
    of ``wall_s`` (later passes in the same JVM keep getting faster)."""

    WARM_S = 0.0

    def __init__(self, root: str):
        self._run_pipeline = _load_run_pipeline(root)
        self.kept_digests: list = []
        self.problems: list = []
        self.commits: list = []  # (writer, kept DataFrame, stats) per pass

    @contextmanager
    def _hooks(self, spark, tracer, group):
        """Tag each phase with its own job group and span."""
        from docwire_spark.ops import common
        from docwire_spark.spark import lineage

        release = common.release_persisted
        writer_cls = lineage.CheckpointedWriter
        state = {"phase": 0, "span": None}
        commits = self.commits

        def enter(i):
            if group is not None:
                set_group(spark, f"{group}.{PHASES[i]}")
            state["span"] = tracer.begin(f"pipeline.{PHASES[i]}")

        def release_and_advance():
            tracer.end(state["span"])
            release()
            state["phase"] += 1
            if state["phase"] < len(PHASES):
                enter(state["phase"])
            else:
                set_group(spark, None)

        class TimedWriter(writer_cls):
            def run(self, extracted, *args, **kwargs):
                with tracer.span("spark.lineage.commit"):
                    stats = super().run(extracted, *args, **kwargs)
                commits.append((self, extracted, stats))
                return stats

        common.release_persisted = release_and_advance
        lineage.CheckpointedWriter = TimedWriter
        enter(0)
        try:
            yield
        finally:
            common.release_persisted = release
            lineage.CheckpointedWriter = writer_cls
            set_group(spark, None)
            if state["phase"] < len(PHASES):  # a phase raised
                tracer.end(state["span"])

    def job(self, spark, df, out_dir, tracer, group=None):
        with self._hooks(spark, tracer, group):
            summary = self._run_pipeline(spark, df, out_dir)
        if tuple(summary["phases"]) != PHASES:
            raise RuntimeError(
                f"pipeline phases changed: {list(summary['phases'])}; "
                "update perfbench.workloads.PHASES"
            )
        return summary

    def warm(self, spark, inp, run_dir, tracer):
        extract_to_noop(spark, spark.read.parquet(inp.warm_path))

    def after_pass(self, spark, out_dir, summary) -> None:
        writer, _kept, stats = self.commits[-1]
        if writer.out_dir != os.path.join(out_dir, "final"):
            raise RuntimeError(f"pass into {out_dir} committed elsewhere")
        self.problems += commit_problems(writer, stats)
        urls = sorted(r["url"] for r in writer.read(spark).select("url")
                      .collect())
        self.kept_digests.append(
            hashlib.sha256("\n".join(urls).encode()).hexdigest()
        )
        if len(urls) != summary["phases"][PHASES[-1]]["docs"]:
            self.problems.append("final commit rows != last phase count")

    def check(self, spark, df, inp, out_dir, results, tracer) -> Check:
        check = Check()
        check.problems += self.problems
        stage1 = spark.read.parquet(
            os.path.join(out_dir, "stage1_extracted", "documents.parquet")
        ).select("url", _text_sha("text").alias("h")).collect()
        got = {}
        for r in stage1:
            if r["url"] in got:
                check.problems.append(f"{r['url']}: emitted twice")
            got[r["url"]] = r["h"]
        check.attempted = len(inp.expected)
        # stage 1 keeps only rows extraction reported no error for
        check.failed = len(set(inp.expected) - set(got))
        check.mismatches = sum(
            1 for url, h in got.items()
            if url in inp.expected and h != inp.expected[url][0]
        )
        if set(got) - set(inp.expected):
            check.problems.append("stage 1 holds urls not in the input")
        for summary in results:
            counts = [p["docs"] for p in summary["phases"].values()]
            if counts != sorted(counts, reverse=True) or counts[0] != len(got):
                check.problems.append(f"phase counts {counts}")
        if len(set(self.kept_digests)) != 1:
            check.problems.append(
                f"kept set differs between passes: {self.kept_digests}"
            )
        return check


def make(name: str, root: str):
    if name == "crawl_pipeline":
        return PipelineWorkload(root)
    return ExtractWorkload()
