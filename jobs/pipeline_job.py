"""The end-to-end training-data pipeline as one spark-submit job:

    spark-submit --master local[8] --py-files dist/docwire_spark.zip \
        jobs/pipeline_job.py --n-docs 20000 --out /tmp/pipeline

    extract -> quality filter -> LM perplexity tail-drop (CCNet)
    -> PII redaction -> exact dedup -> near-dup cluster dedup
    -> checkpointed final corpus write

Each phase materializes a stage directory (``stage1_extracted/``,
``stage2_quality/``, ...) holding a ``documents.parquet`` in the
engine's standard corpus shape — the checkpoint-between-stages layout
production pipelines use at 100 TB: a failed phase restarts from the
previous stage's parquet instead of the top, every stage is
independently inspectable/resumable, and the expensive phases (LSH,
components) never re-run upstream work.  The final write goes through
the CheckpointedWriter, so a killed job resumes at commit-group
granularity.

Prints ONE JSON summary line: per-phase document counts and wall
times.  Phase counts are monotonically non-increasing by construction
(each phase only drops documents).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _write_stage(df, stage_dir: str) -> None:
    df.write.mode("overwrite").parquet(
        os.path.join(stage_dir, "documents.parquet")
    )


def run_pipeline(spark, pages, out_dir: str, n_shards: int = 64,
                 groups: int = 16) -> dict:
    """Run the four-phase pipeline over a ``pages(url, html, ...)``
    DataFrame; returns the summary dict."""
    from pyspark.sql import functions as F

    from docwire_spark.ops.common import release_persisted
    from docwire_spark.ops.corpus_filter import corpus_quality_filter
    from docwire_spark.ops.dedup import dedup_components, dedup_exact
    from docwire_spark.spark.extract import extract_pages
    from docwire_spark.spark.lineage import CheckpointedWriter

    summary: dict = {"phases": {}}

    def _phase(name, fn):
        t0 = time.time()
        n = fn()
        summary["phases"][name] = {"docs": n, "wall_s": round(time.time() - t0, 2)}
        release_persisted()
        return n

    st1 = os.path.join(out_dir, "stage1_extracted")
    st2 = os.path.join(out_dir, "stage2_quality")
    st2lm = os.path.join(out_dir, "stage2lm_ppl")
    st2b = os.path.join(out_dir, "stage2b_redacted")
    st3 = os.path.join(out_dir, "stage3_exact")
    final = os.path.join(out_dir, "final")

    # -- phase 1: extraction ---------------------------------------------
    def p1():
        from docwire_spark.ops.common import TOKENS_EXPR
        from docwire_spark.ops.textstats import lang_pred_col

        ex = extract_pages(pages.select("url", "html"))
        docs = ex.filter(F.col("error").isNull()).select(
            # url-hash doc ids: deterministic, cluster-stable; keep-min
            # dedup policies only need a total order, not density
            F.xxhash64("url").alias("doc_id"),
            "url",
            F.col("extracted_text").alias("text"),
            F.parse_url(F.col("url"), F.lit("HOST")).alias("source"),
            F.length("extracted_text").cast("bigint").alias("n_chars"),
        ).withColumn(
            # stopword-vote lang id stamped at extraction time: the
            # LM phase buckets per language (CCNet order: lang-id
            # before perplexity)
            "tokens", F.expr(TOKENS_EXPR)
        ).withColumn("lang", lang_pred_col()).drop("tokens")
        _write_stage(docs, st1)
        return spark.read.parquet(os.path.join(st1, "documents.parquet")).count()

    # -- phase 2: Gopher-style quality filter ------------------------------
    def p2():
        # thresholds re-tuned for the synthetic crawl corpus: its
        # vocabulary carries no English stopwords and its pages are
        # shorter than the oracle documents table, so the module
        # defaults (pinned to that table's oracle) degenerate to
        # keep-nothing here
        keep = corpus_quality_filter(
            spark, st1,
            min_tokens=15, min_stopwords=0,
            min_avg_token_len=3.0, max_avg_token_len=12.0,
        ).filter(F.col("keep") == 1).select("doc_id")
        docs = spark.read.parquet(os.path.join(st1, "documents.parquet"))
        _write_stage(docs.join(keep, "doc_id", "left_semi"), st2)
        return spark.read.parquet(os.path.join(st2, "documents.parquet")).count()

    # -- phase 2lm: CCNet LM perplexity tail-drop --------------------------
    def p2lm():
        from docwire_spark.ops.common import persist_tracked
        from docwire_spark.ops.lm_filter import lm_perplexity

        # persisted: the keep-filter write AND the bucket summary both
        # consume the scored table — without this the corpus-scale
        # scoring join runs twice
        ppl = persist_tracked(lm_perplexity(spark, st2))
        keep = ppl.filter(F.col("bucket") != "tail").select("doc_id")
        docs = spark.read.parquet(os.path.join(st2, "documents.parquet"))
        _write_stage(docs.join(keep, "doc_id", "left_semi"), st2lm)
        summary["ppl_buckets"] = {
            r["bucket"]: r["n"]
            for r in ppl.groupBy("bucket").agg(F.count("*").alias("n"))
            .collect()
        }
        return spark.read.parquet(
            os.path.join(st2lm, "documents.parquet")
        ).count()

    # -- phase 2b: PII redaction (map-side transform, drops nothing) ------
    def p2b():
        from docwire_spark.ops.corpus_filter import redact_pii_column

        docs = spark.read.parquet(os.path.join(st2lm, "documents.parquet"))
        _write_stage(redact_pii_column(docs, "text"), st2b)
        out = spark.read.parquet(os.path.join(st2b, "documents.parquet"))
        summary["pii_matches"] = {
            k: v
            for k, v in zip(
                ("emails", "phones", "ips"),
                out.agg(
                    F.sum("n_pii_emails"), F.sum("n_pii_phones"),
                    F.sum("n_pii_ips"),
                ).first(),
            )
        }
        return out.count()

    # -- phase 3: exact dedup (keep-first per fingerprint) ----------------
    def p3():
        keep = dedup_exact(spark, st2b).select(
            F.col("keep_doc_id").alias("doc_id")
        )
        docs = spark.read.parquet(os.path.join(st2b, "documents.parquet"))
        _write_stage(docs.join(keep, "doc_id", "left_semi"), st3)
        return spark.read.parquet(os.path.join(st3, "documents.parquet")).count()

    # -- phase 4: near-dup cluster dedup + checkpointed final write -------
    def p4():
        keep = dedup_components(spark, st3).filter(
            F.col("keep_flag") == 1
        ).select("doc_id")
        docs = spark.read.parquet(os.path.join(st3, "documents.parquet"))
        kept = docs.join(keep, "doc_id", "left_semi")
        w = CheckpointedWriter(final, n_shards=n_shards, groups=groups)
        stats = w.run(kept)
        summary["final_commit"] = stats
        return w.read(spark).count()

    _phase("extract", p1)
    _phase("quality_filter", p2)
    _phase("lm_tail_drop", p2lm)
    _phase("pii_redact", p2b)
    _phase("dedup_exact", p3)
    _phase("dedup_near_dup", p4)
    counts = [p["docs"] for p in summary["phases"].values()]
    assert counts == sorted(counts, reverse=True), (
        "phase counts must be non-increasing: " + repr(counts)
    )
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--n-docs", type=int, default=20_000)
    ap.add_argument("--n-hosts", type=int, default=50)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--groups", type=int, default=16)
    ap.add_argument("--input", default=None,
                    help="existing pages parquet (url, html); default: "
                    "deterministic synthetic corpus")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from docwire_spark.spark.corpus import build_pages_df
    from docwire_spark.spark.session import build_session

    spark = build_session(master=args.master, app_name="docwire-pipeline")
    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = build_pages_df(
            spark, args.n_docs, n_hosts=args.n_hosts, seed=args.seed
        )
    t0 = time.time()
    summary = run_pipeline(
        spark, pages, args.out, n_shards=args.n_shards, groups=args.groups
    )
    summary["wall_s"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
