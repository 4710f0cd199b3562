"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line ($SPARK_GRAFT_CPUS defaults to the nproc core count):

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full
materialization, no collect/driver bottleneck, no output IO cost).

The only brute-force O(n^2) validation op (dedup_jaccard_exact) is
intentionally NOT a headline query — it exists as small-scale ground
truth for the LSH recall tests and does not belong in a scale
benchmark.  dedup_simhash_pairs (pigeonhole block equi-join) and
dedup_embedding (banded sign-LSH equi-join) ARE headline queries: both
are shuffle-on-key plans with no cartesian product.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # end-to-end extraction pipeline (the engine's reason to exist)
    "extract_plain",
    "extract_rich",
    "extract_table",
    "extract_main_content",
    "extract_format_dispatch",
    "extract_binary_dispatch",
    "extract_tree",
    # text analysis
    "text_token_stats",
    "text_quality",
    "text_lang_id",
    "text_fingerprint_repetition",
    "text_ngram_topk",
    "text_normalize",
    "text_length_percentiles",
    "c4_line_filter",
    "corpus_quality_filter",
    "lm_perplexity",
    "dsir_select",
    "bpe_train",
    "bpe_encode",
    "bm25_search",
    "sample_stratified",
    "decontaminate",
    "pii_redact",
    "corpus_mix_planner",
    "inverted_index",
    "lang_balance",
    "pack_sequences",
    "train_shuffle_export",
    "ml_quality_score",
    "ml_quality_train",
    "bloom_url_blocklist",
    "hll_registers",
    "zorder_layout",
    "cms_grid",
    "chunk_windows",
    # WARC container layer (export -> re-ingest; warc_extract_wet is
    # the full crawl composition: warc in -> kernel -> wet out)
    "warc_roundtrip",
    "warc_extract_wet",
    # web / graph
    "url_canonicalize",
    "host_stats",
    "url_dedup_latest",
    "robots_filter",
    "redirect_chains",
    "anchor_text",
    "frontier_schedule",
    "corpus_diff",
    "pagerank",
    "link_graph",
    # dedup (scale paths only)
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_embedding",
    "dedup_chunk_exact",
    "dedup_substring",
    "dedup_components",
    # similarity search / clustering
    "similarity_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "kmeans_embeddings",
    "semdedup",
    # multimodal plumbing
    "multimodal_meta",
    "multimodal_frames",
    # AI transform family (deterministic task analogs)
    "ai_sentiment",
    "ai_classify",
    "ai_keywords",
    "ai_summarize",
    "ai_embed_hash",
    # relational shell
    "events_by_type",
    "events_user_sessions",
    "events_asof_attribution",
    "orders_fulfillment",
    "top_parts_by_flag",
    "source_skew_salt",
    "source_salted_agg",
    "orders_by_nation",
    "pricing_summary",
]


def _burn(n):
    s = 0
    for i in range(n):
        s += i * i
    return s


def cpu_calibration(width: int | None = None, n: int = 20_000_000):
    """Measure the box itself so per-round numbers are comparable.

    This sandbox's VM shows heavy, time-varying CPU contention
    (measured single-thread speed varied 3x between probes minutes
    apart; a 32-wide burn delivered ~19 effective cores).  Reporting
    the box's single-thread seconds and effective parallel cores
    alongside the query timings lets a reader separate "the code got
    slower" from "the box got slower" across rounds."""
    import multiprocessing as mp

    from docwire_spark.spark.session import default_cpus

    width = width or default_cpus()
    t0 = time.time()
    _burn(n)
    single = time.time() - t0
    try:
        with mp.Pool(width) as pool:
            t0 = time.time()
            pool.map(_burn, [n] * width)
            wall = time.time() - t0
        eff_cores = round(width * single / wall, 1)
    except Exception:
        eff_cores = None
    return round(single, 3), eff_cores


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from docwire_spark.spark.session import build_session, default_cpus

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    cpu_single_s, cpu_eff_cores = cpu_calibration()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    import __spark_entry__ as ENTRY

    spark = build_session(
        master=f"local[{cpus}]",
        app_name="docwire_spark-bench",
        shuffle_partitions=int(cpus) if cpus.isdigit() else default_cpus(),
    )
    qs = ENTRY.queries()

    # warmup (not timed): JVM/codegen via a relational query, then one
    # full mapInPandas pass so the python worker pool (numpy/pandas
    # imports on every core) is hot — worker spin-up is a per-job fixed
    # cost that a 100 TB run amortizes to nothing, so steady-state is
    # the honest throughput measure
    qs["events_by_type"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    qs["extract_plain"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    timings = {}
    n_docs = None
    t_extract = 0.0
    from docwire_spark.ops.common import release_persisted

    for name in HEADLINE:
        if name == "multimodal_meta":
            # split fixture construction from header parsing (the op's
            # real cost): build+persist the media table first, then
            # time the parse alone over the cached blobs
            from docwire_spark.ops.multimodal import (
                media_table, parse_media_meta,
            )

            t0 = time.time()
            media = media_table(spark, sf_dir).persist()
            media.count()
            timings["multimodal_fixture"] = round(time.time() - t0, 3)
            t0 = time.time()
            parse_media_meta(media).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.time() - t0, 3)
            media.unpersist()
            continue
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        release_persisted()  # free tables the query builder cached
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        # extract_tree is excluded from the throughput metric: half
        # its work is building the zip+eml fixture per document, not
        # extracting pages
        if name.startswith("extract_") and name != "extract_tree":
            t_extract += dt

    # extraction throughput over the three extract_* pipeline runs
    from docwire_spark.ops.common import load

    n_docs = load(spark, sf_dir, "documents").count()
    n_extract = sum(
        1 for name in HEADLINE
        if name.startswith("extract_") and name != "extract_tree"
    )
    docs_per_sec = (
        round(n_extract * n_docs / t_extract, 1) if t_extract else None
    )

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline suite wall time (extraction + dedup + "
        "similarity + text analysis + relational)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus) if str(cpus).isdigit() else cpus,
        "extract_docs_per_sec": docs_per_sec,
        "n_docs": n_docs,
        # box calibration (see cpu_calibration docstring):
        # single-thread seconds for a fixed integer burn, and
        # measured effective cores at width nproc
        "cpu_ref_single_s": cpu_single_s,
        "cpu_eff_cores": cpu_eff_cores,
    }
    # Full per-query detail first; then the LAST line is a compact
    # summary guaranteed under the driver's 2000-char tail capture
    # (VERDICT r4 "What's wrong" #2: the r4 single-line record was
    # truncated from the FRONT, losing the headline value).  If the
    # full record already fits, the last line IS the full record;
    # otherwise the summary keeps the slowest queries until the
    # budget is hit and notes how many were elided.
    full = json.dumps(record)
    budget = 1900
    if len(full) <= budget:
        print(full)
    else:
        print(full)  # detail line (may be truncated by tail capture)
        slim = dict(record)
        by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
        kept: dict[str, float] = {}
        for name_, sec in by_cost:
            kept[name_] = sec
            slim["queries"] = kept
            slim["queries_elided"] = len(timings) - len(kept)
            if len(json.dumps(slim)) > budget:
                kept.pop(name_)
                slim["queries"] = kept
                slim["queries_elided"] = len(timings) - len(kept)
                break
        print(json.dumps(slim))
    spark.stop()


if __name__ == "__main__":
    main()
