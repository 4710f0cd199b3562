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
(each phase only drops documents).  Every count and side sum in the
summary is observed on the job that writes the stage, so no phase
re-reads what it wrote.
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


def run_pipeline(spark, pages, out_dir: str, n_shards: int = 64,
                 groups: int = 16) -> dict:
    """Run the four-phase pipeline over a ``pages(url, html, ...)``
    DataFrame; returns the summary dict."""
    from pyspark.sql import Observation, functions as F

    from docwire_spark.ops.common import release_persisted
    from docwire_spark.ops.dedup import exact_firsts, near_dup_components
    from docwire_spark.spark import lineage
    from docwire_spark.spark.extract import extract_pages

    summary: dict = {"phases": {}}
    schemas: dict = {}

    def _phase(name, fn):
        t0 = time.time()
        n = fn()
        summary["phases"][name] = {"docs": n, "wall_s": round(time.time() - t0, 2)}
        release_persisted()
        return n

    def _write(df, stage: str, **sums) -> dict:
        """Write ``df`` as the stage's ``documents.parquet``; return its
        row count ``n`` and the named column ``sums``, observed by the
        write job itself (no second action over the stage)."""
        obs = Observation()
        df.observe(
            obs, F.count(F.lit(1)).alias("n"),
            *[F.sum(c).alias(k) for k, c in sums.items()],
        ).write.mode("overwrite").parquet(
            os.path.join(stage, "documents.parquet")
        )
        schemas[stage] = df.schema
        return obs.get

    def _read(stage: str):
        # with the schema it was written with: no schema-inference job
        return spark.read.schema(schemas[stage]).parquet(
            os.path.join(stage, "documents.parquet")
        )

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
        return _write(docs, st1)["n"]

    # -- phase 2: Gopher-style quality filter ------------------------------
    def p2():
        from docwire_spark.ops.corpus_filter import quality_flags

        docs = _read(st1)
        # thresholds re-tuned for the synthetic crawl corpus: its
        # vocabulary carries no English stopwords and its pages are
        # shorter than the oracle documents table, so the module
        # defaults (pinned to that table's oracle) degenerate to
        # keep-nothing here
        scored = quality_flags(
            docs,
            min_tokens=15, min_stopwords=0,
            min_avg_token_len=3.0, max_avg_token_len=12.0,
        )
        kept = scored.filter(F.col("keep") == 1).select(*docs.columns)
        return _write(kept, st2)["n"]

    # -- phase 2lm: CCNet LM perplexity tail-drop --------------------------
    def p2lm():
        from docwire_spark.ops.lm_filter import PPL_BUCKETS, lm_scores

        docs = _read(st2)
        # the bucket histogram rides the same write job as the stage
        # (a conditional count per bucket over the scored rows)
        hist = Observation()
        scored = lm_scores(docs).observe(hist, *[
            F.sum((F.col("bucket") == b).cast("bigint")).alias(b)
            for b in PPL_BUCKETS
        ])
        kept = scored.filter(F.col("bucket") != "tail").select(*docs.columns)
        n = _write(kept, st2lm)["n"]
        summary["ppl_buckets"] = {b: c for b, c in hist.get.items() if c}
        return n

    # -- phase 2b: PII redaction (map-side transform, drops nothing) ------
    def p2b():
        from docwire_spark.ops.corpus_filter import redact_pii_column

        row = _write(
            redact_pii_column(_read(st2lm), "text"), st2b,
            emails="n_pii_emails", phones="n_pii_phones", ips="n_pii_ips",
        )
        summary["pii_matches"] = {
            k: row[k] for k in ("emails", "phones", "ips")
        }
        return row["n"]

    # -- phase 3: exact dedup (keep-first per fingerprint) ----------------
    def p3():
        return _write(exact_firsts(_read(st2b)), st3)["n"]

    # -- phase 4: near-dup cluster dedup + checkpointed final write -------
    def p4():
        docs = _read(st3)
        obs = Observation()
        kept = near_dup_components(docs).filter(
            F.col("keep_flag") == 1
        ).select(*docs.columns).observe(obs, F.count(F.lit(1)).alias("n"))
        # looked up at call time: the module attribute is the seam
        # wrappers (timing, tracing) replace
        w = lineage.CheckpointedWriter(final, n_shards=n_shards,
                                       groups=groups)
        stats = w.run(kept)
        summary["final_commit"] = stats
        # a run that finds every group committed writes nothing, so
        # nothing was observed: count the committed table instead
        if not stats["groups_written"]:
            return w.read(spark).count()
        return obs.get["n"]

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
