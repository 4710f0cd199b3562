"""Semantics + plan-shape gates for the Gopher-style quality filter
and BM25 keyword search (ops/corpus_filter.py)."""

from __future__ import annotations

import math
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


def test_quality_filter_keep_is_rule_conjunction(spark):
    from docwire_spark.ops.corpus_filter import corpus_quality_filter

    rows = corpus_quality_filter(spark, SF_DIR).collect()
    keeps = set()
    for r in rows:
        flags = [
            r["pass_n_tokens"], r["pass_avg_token_len"], r["pass_stopwords"],
            r["pass_short_tokens"], r["pass_top_bigram"],
        ]
        assert all(f in (0, 1) for f in flags)
        assert r["keep"] == math.prod(flags)
        keeps.add(r["keep"])
    assert keeps == {0, 1}, "filter must be non-degenerate on the corpus"


def test_quality_filter_is_map_side_only(spark):
    """One pass, no shuffle, no Python eval node — pure codegen."""
    from docwire_spark.ops.corpus_filter import corpus_quality_filter

    plan = _plan(corpus_quality_filter(spark, SF_DIR))
    body = plan.split("Exchange", 1)  # load(parallelize=True) may add
    # one scan-repartition Exchange at the very bottom; nothing above
    # the scan may shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    del body


def test_bm25_matches_reference_formula(spark):
    """Recompute every returned score in plain Python from the same
    per-doc tf/dl projection; bit-identical doubles expected (the
    arithmetic tree is the same IEEE sequence)."""
    from docwire_spark.ops.corpus_filter import (
        BM25_B, BM25_K1, BM25_TOP_K, QUERY_TERMS, bm25_search,
    )
    from docwire_spark.ops.common import load, with_tokens
    from pyspark.sql import functions as F

    docs = with_tokens(load(spark, SF_DIR, "documents"))
    base = docs.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("dl"),
        *[
            F.expr(f"size(filter(tokens, t -> t = '{t}'))")
            .cast("bigint").alias(f"tf_{t}")
            for t in QUERY_TERMS
        ],
    ).collect()
    n = len(base)
    sum_dl = sum(r["dl"] for r in base)
    avgdl = float(sum_dl) / float(n)
    df = {t: sum(1 for r in base if r[f"tf_{t}"] > 0) for t in QUERY_TERMS}

    def score(r):
        s = 0.0
        for t in QUERY_TERMS:
            tf = float(r[f"tf_{t}"])
            idf = (float(n - df[t]) + 0.5) / (float(df[t]) + 0.5)
            s = s + idf * (
                (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (float(r["dl"]) / avgdl)))
            )
        return s

    expected = sorted(
        ((score(r), r["doc_id"]) for r in base if
         sum(r[f"tf_{t}"] for t in QUERY_TERMS) > 0),
        key=lambda x: (-x[0], x[1]),
    )[:BM25_TOP_K]

    got = bm25_search(spark, SF_DIR).collect()
    assert [(r["score"], r["doc_id"]) for r in got] == expected


def test_degenerate_documents_never_crash(spark, tmp_path_factory):
    """Empty/NULL/1-token documents: Spark's sequence(1, 0) is
    DESCENDING (crashes unguarded bigram element_at) and ANSI mode
    raises on /0 — both killed whole jobs before the guards.  The
    quality filter must reject such docs (keep=0), never error."""
    import os as _os

    from docwire_spark.ops.corpus_filter import corpus_quality_filter
    from docwire_spark.ops.textstats import (
        fingerprint_repetition, quality_score, token_stats,
    )

    d = str(tmp_path_factory.mktemp("edgedocs"))
    rows = [(0, "regular document text body here ok"), (1, ""), (2, None),
            (3, "x")]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(_os.path.join(d, "documents.parquet"))

    keeps = {
        r["doc_id"]: r["keep"]
        for r in corpus_quality_filter(spark, d).collect()
    }
    assert keeps[1] == 0 and keeps[2] == 0 and keeps[3] == 0
    for fn in (fingerprint_repetition, token_stats, quality_score):
        assert len(fn(spark, d).collect()) == 4  # no crash, all rows


def test_decontaminate_semantics(spark, tmp_path_factory):
    """Crafted corpus: doc 7 is the eval slice; doc 0 shares one of
    its 8-grams (shifted position — overlap is positional-independent),
    doc 1 shares none, doc 2 is too short for any 8-gram."""
    import os as _os

    from docwire_spark.ops.corpus_filter import decontaminate

    d = str(tmp_path_factory.mktemp("decon"))
    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (7, f"prefix words here {leak} suffix words"),      # eval doc
        (0, f"{leak} completely different tail tokens go here now"),
        (1, "no overlap at all in this training document text body ok"),
        (2, "too short"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(_os.path.join(d, "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["contaminated"])
        for r in decontaminate(spark, d).collect()
    }
    assert set(got) == {0, 1, 2}          # eval doc 7 excluded
    assert got[0][1] == 1 and got[0][2] == 1
    assert got[1] == (got[1][0], 0, 0) and got[1][0] > 0
    assert got[2] == (0, 0, 0)


def test_bm25_stats_join_is_broadcast_topk_no_global_sort(spark):
    from docwire_spark.ops.corpus_filter import bm25_search

    plan = _plan(bm25_search(spark, SF_DIR))
    assert "Broadcast" in plan            # 1-row stats side is broadcast
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k without a global sort
