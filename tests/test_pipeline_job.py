"""End-to-end test of the training-data pipeline job
(jobs/pipeline_job.py): extract -> quality filter -> LM perplexity
tail-drop -> PII redaction -> exact dedup -> near-dup cluster dedup
-> checkpointed final write.

Covers the composition hazards the per-op oracles cannot see — e.g.
the Catalyst alias-substitution blowup (common.let_expr) only
manifested when an op was composed UNDER a downstream filter, exactly
what the pipeline phases do."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
)


@pytest.fixture(scope="module")
def pipeline_summary(spark, tmp_path_factory):
    from docwire_spark.spark.corpus import build_pages_df
    from pipeline_job import run_pipeline

    out = str(tmp_path_factory.mktemp("pipeline"))
    pages = build_pages_df(spark, 400, n_hosts=20, seed=7)
    summary = run_pipeline(spark, pages, out, n_shards=8, groups=4)
    return summary, out


def test_phase_counts_monotone_and_nondegenerate(pipeline_summary):
    summary, _ = pipeline_summary
    counts = [p["docs"] for p in summary["phases"].values()]
    assert len(counts) == 6
    assert counts[0] == 400
    assert counts == sorted(counts, reverse=True)
    # each boundary must be non-degenerate: something survives to the
    # end, and the near-dup phase actually drops documents (the
    # synthetic corpus contains template near-dup cliques)
    assert counts[-1] > 0
    assert counts[5] < counts[4]
    # the LM phase must have dropped a real tail (CCNet terciles on
    # the ~10% sample put roughly a third of sampled mass below t2)
    assert summary["ppl_buckets"].get("tail", 0) > 0
    assert counts[2] < counts[1]


def test_final_corpus_readable_and_committed(pipeline_summary, spark):
    summary, out = pipeline_summary
    stats = summary["final_commit"]
    assert stats["groups_written"] + stats["groups_skipped"] == stats["groups_total"]

    from docwire_spark.spark.lineage import CheckpointedWriter

    w = CheckpointedWriter(os.path.join(out, "final"), n_shards=8, groups=4)
    final = w.read(spark)
    n = final.count()
    assert n == summary["phases"]["dedup_near_dup"]["docs"]
    # the final corpus keeps the standard shape
    for col in ("doc_id", "url", "text", "source", "n_chars"):
        assert col in final.columns
    assert final.select("doc_id").distinct().count() == n


def test_stage_checkpoints_resumable(pipeline_summary, spark):
    """Every intermediate stage is a readable documents.parquet in
    the engine's corpus shape — the failed-phase restart contract."""
    summary, out = pipeline_summary
    for stage, key in (
        ("stage1_extracted", "extract"),
        ("stage2_quality", "quality_filter"),
        ("stage2lm_ppl", "lm_tail_drop"),
        ("stage2b_redacted", "pii_redact"),
        ("stage3_exact", "dedup_exact"),
    ):
        df = spark.read.parquet(os.path.join(out, stage, "documents.parquet"))
        assert df.count() == summary["phases"][key]["docs"], stage
        assert "doc_id" in df.columns and "text" in df.columns, stage


def test_observed_summaries_match_the_stages(pipeline_summary, spark):
    """The bucket histogram and the PII sums are observed on the write
    jobs; they must equal the same figures queried from the stages."""
    from pyspark.sql import functions as F

    from docwire_spark.ops.lm_filter import lm_perplexity

    summary, out = pipeline_summary
    buckets = {
        r["bucket"]: r["n"]
        for r in lm_perplexity(spark, os.path.join(out, "stage2_quality"))
        .groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert summary["ppl_buckets"] == buckets

    red = spark.read.parquet(
        os.path.join(out, "stage2b_redacted", "documents.parquet"))
    sums = red.agg(
        F.sum("n_pii_emails").alias("emails"),
        F.sum("n_pii_phones").alias("phones"),
        F.sum("n_pii_ips").alias("ips"),
    ).first().asDict()
    assert summary["pii_matches"] == sums
