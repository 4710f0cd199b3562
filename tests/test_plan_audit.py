"""Physical-plan shape gates for the headline queries.

These assertions pin the properties that make the plans scale-safe —
if a refactor silently turns a broadcast join into a shuffled one,
drops predicate pushdown, or introduces a cartesian product, the
suite fails even though results stay correct.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_down_timestamp_filter(spark):
    from docwire_spark.ops.relational import pricing_summary

    plan = _plan(pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan


def test_extraction_scan_prunes_to_needed_columns(spark):
    """The extraction scan must read only url+html (column pruning
    reaches the parquet reader) — reading all of documents for the
    2-column projection is the wrong plan at 100 TB."""
    from pyspark.sql import functions as F

    from docwire_spark.ops.common import load
    from docwire_spark.spark.extract import extract_pages

    docs = load(spark, SF_DIR, "documents")
    pages = docs.select(
        F.concat(F.lit("https://x/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
    )
    plan = _plan(extract_pages(pages))
    # the scan must not materialize lang/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_broadcast_joins_in_dim_queries(spark):
    from docwire_spark.ops.relational import orders_by_nation

    plan = _plan(orders_by_nation(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "SortMergeJoin" not in plan


def test_dedup_verify_joins_are_broadcast(spark):
    from docwire_spark.ops.dedup import dedup_embedding, dedup_minhash_lsh

    for fn in (dedup_minhash_lsh, dedup_embedding):
        plan = _plan(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_broadcast_hints_are_size_gated(spark, monkeypatch):
    """The round-2 scale-killer: unconditional F.broadcast() of
    corpus-sized side tables.  Forcing the gate closed (row limits = 0,
    simulating a 10^12-doc corpus where every derived table exceeds the
    cap) must yield a plan with NO broadcast hint anywhere — the
    back-joins degrade to shuffled equi-joins on the key, the candidate
    stream is never a broadcast build side — and identical results."""
    from docwire_spark.ops import dedup, similarity

    baseline = {
        "mh": dedup.dedup_minhash_lsh(spark, SF_DIR).count(),
        "sh": dedup.dedup_simhash_pairs(spark, SF_DIR).count(),
        "emb": dedup.dedup_embedding(spark, SF_DIR).count(),
    }
    monkeypatch.setattr(dedup, "BROADCAST_HEAVY_ROW_LIMIT", 0)
    monkeypatch.setattr(dedup, "BROADCAST_SLIM_ROW_LIMIT", 0)
    monkeypatch.setattr(similarity, "BROADCAST_HEAVY_ROW_LIMIT", 0)
    # also disable stats-driven auto-broadcast so any surviving
    # BroadcastExchange can only come from an explicit hint
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, fn in (
            ("mh", dedup.dedup_minhash_lsh),
            ("sh", dedup.dedup_simhash_pairs),
            ("emb", dedup.dedup_embedding),
        ):
            df = fn(spark, SF_DIR)
            plan = _plan(df)
            assert "CartesianProduct" not in plan, name
            assert "BroadcastHashJoin" not in plan, name
            assert "BroadcastExchange" not in plan, name
            assert df.count() == baseline[name], name
        # ann_lsh keeps its two O(1) hints (query bands + query
        # vectors) but the O(corpus) neighbor-vector table must
        # shuffle — so exactly 2 broadcast exchanges, and at least
        # one shuffled join
        ann_plan = _plan(similarity.ann_lsh(spark, SF_DIR))
        assert "CartesianProduct" not in ann_plan
        assert ann_plan.count("BroadcastExchange") <= 2
        assert (
            "SortMergeJoin" in ann_plan or "ShuffledHashJoin" in ann_plan
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_extraction_has_no_shuffle(spark):
    """The no-pre-shuffle design: extract_pages without the opt-in
    repartition must contain NO Exchange — raw html bytes never move."""
    from pyspark.sql import functions as F

    from docwire_spark.ops.common import load
    from docwire_spark.spark.extract import extract_pages

    docs = load(spark, SF_DIR, "documents")
    pages = docs.select(
        F.concat(F.lit("https://x/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
    )
    plan = _plan(extract_pages(pages))
    assert "Exchange" not in plan


def test_text_stats_stay_jvm_side(spark):
    """Text analysis ops are pure Catalyst — no python evaluation
    node may appear in their plans."""
    from docwire_spark.ops import textstats

    for name, fn in textstats.QUERIES.items():
        plan = _plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_ngram_topk_partial_agg_and_takeordered(spark):
    """Corpus n-gram counting must partial-aggregate map-side BEFORE
    the exchange (the skew defense for Zipfian hot n-grams) and take
    the top-k without a global sort."""
    from docwire_spark.ops.textstats import ngram_topk

    plan = _plan(ngram_topk(spark, SF_DIR))
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Exchange hashpartitioning")
    assert "TakeOrderedAndProject" in plan
    # exactly one shuffle: the aggregation exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_lambda_bodies_never_capture_tokenization(spark):
    """Composability gate for the let_expr barrier (common.let_expr).

    Composing an op with a downstream filter makes Catalyst push the
    predicate through the op's projections, substituting every alias
    — including into higher-order-function lambda BODIES, where the
    substituted expression re-evaluates PER ELEMENT.  Before the
    barrier, `corpus_quality_filter(...).filter("keep = 1")` inlined
    the regexp tokenizer into the bigram lambda: O(n^2) per document,
    one 260 KB page pinned a core for ~8 minutes.

    The gate: in the OPTIMIZED plan of the filtered composition, no
    regexp_extract_all may appear nested inside a lambdafunction.
    (In argument position — transform(array(regexp(...)), ...) — the
    regex text precedes 'lambdafunction('; capture means it appears
    AFTER one, inside the body.)"""
    from pyspark.sql import functions as F

    from docwire_spark.ops.corpus_filter import (
        corpus_quality_filter, decontaminate,
    )
    from docwire_spark.ops.dedup import dedup_chunk_exact
    from docwire_spark.ops.textstats import fingerprint_repetition

    def _lambda_spans(plan):
        """Balanced-paren extraction of every lambdafunction(...) span
        (regex pattern literals in plan text contain no parens)."""
        key = "lambdafunction("
        i = 0
        while True:
            i = plan.find(key, i)
            if i < 0:
                return
            start = i + len(key)
            depth, j = 1, start
            while depth and j < len(plan):
                depth += {"(": 1, ")": -1}.get(plan[j], 0)
                j += 1
            yield plan[start:j - 1]
            i = start

    def _no_regex_inside_lambda(df, name):
        plan = _analyzed(df)
        for body in _lambda_spans(plan):
            assert "regexp_extract_all" not in body, (
                f"{name}: tokenizer captured inside a lambda body "
                f"(O(n^2) re-tokenization per element): {body[:200]}"
            )

    filtered = corpus_quality_filter(spark, SF_DIR).filter("keep = 1")
    _no_regex_inside_lambda(filtered, "corpus_quality_filter+filter")
    _no_regex_inside_lambda(
        fingerprint_repetition(spark, SF_DIR).filter(
            "dup_bigram_frac > 0.5"),
        "fingerprint_repetition+filter(repetition)",
    )
    _no_regex_inside_lambda(
        fingerprint_repetition(spark, SF_DIR).filter("fp_shingle != ''"),
        "fingerprint_repetition+filter(fingerprint)",
    )
    _no_regex_inside_lambda(
        dedup_chunk_exact(spark, SF_DIR).filter("n_dup_chunks > 0"),
        "dedup_chunk_exact+filter",
    )
    _no_regex_inside_lambda(
        decontaminate(spark, SF_DIR).filter("contaminated = 1"),
        "decontaminate+filter",
    )


def test_no_cartesian_product_in_any_headline_query(spark):
    """Fleet-wide insurance: a refactor that degrades any headline
    join to a cartesian product fails here even if results stay
    correct.  (Streaming queries are excluded: building them executes
    the stream; the two labeled exact-validation baselines are the
    only intentional cartesians in the repo and are not headline.)"""
    import bench
    import __spark_entry__ as ENTRY

    qs = ENTRY.queries()
    for name in bench.HEADLINE:
        plan = _plan(qs[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
