"""``corpus_filter.quality_flags`` pinned against its earlier
column-per-flag formulation.

The flags are one let-bound struct expression, so that a ``keep == 1``
filter pushed into the scan tokenizes each row once.  The reference
below is the column formulation it replaced (a ``lower()`` tokenizer,
a ``tokens`` and a ``bg`` column, one Column per flag, ``array_sort``
in the bigram multiplicity); both must agree on every flag and on the
filtered rows, on crawl pages and on degenerate text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docwire_spark.ops.common import STOP_EN
from docwire_spark.ops.corpus_filter import (
    FLAG_COLS, MAX_AVG_TOKEN_LEN, MAX_SHORT_TOKEN_FRAC, MAX_TOKENS,
    MAX_TOP_BIGRAM_FRAC, MIN_AVG_TOKEN_LEN, MIN_STOPWORDS, MIN_TOKENS,
    quality_flags,
)

DEFAULTS = dict(
    min_tokens=MIN_TOKENS, max_tokens=MAX_TOKENS,
    min_avg_token_len=MIN_AVG_TOKEN_LEN, max_avg_token_len=MAX_AVG_TOKEN_LEN,
    min_stopwords=MIN_STOPWORDS, max_short_token_frac=MAX_SHORT_TOKEN_FRAC,
    max_top_bigram_frac=MAX_TOP_BIGRAM_FRAC,
)
#: the crawl thresholds jobs/pipeline_job.py runs phase 2 with
PIPELINE = dict(DEFAULTS, min_tokens=15, min_stopwords=0,
                min_avg_token_len=3.0, max_avg_token_len=12.0)


def _reference_flags(docs, t):
    """The column formulation ``quality_flags`` replaced."""
    tokens = ("coalesce(regexp_extract_all(lower(text), '[a-z0-9]+', 0),"
              " array())")
    bigrams = (
        "element_at(transform(array(tokens), ts -> CASE WHEN size(ts) >= 2"
        " THEN transform(sequence(1, size(ts) - 1),"
        " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
        " ELSE array() END), 1)"
    )
    top = (
        "aggregate(array_sort(bg), named_struct('prev', CAST(NULL AS STRING),"
        " 'run', 0L, 'best', 0L), (acc, x) -> named_struct('prev', x,"
        " 'run', IF(x <=> acc.prev, acc.run + 1L, 1L),"
        " 'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))),"
        " acc -> acc.best)"
    )
    s = docs.withColumn("tokens", F.expr(tokens)).withColumn(
        "bg", F.expr(bigrams))
    n_tok = F.size("tokens").cast("bigint")
    sum_len = F.expr(
        "aggregate(transform(tokens, t -> length(t)), 0L, (acc, x) -> acc + x)"
    )
    avg_len = F.when(n_tok > 0, sum_len.cast("double") / n_tok)
    stops = F.expr(f"size(filter(tokens, t -> t IN ({STOP_EN})))")
    short_frac = F.when(n_tok > 0, F.expr(
        "size(filter(tokens, t -> length(t) = 1))").cast("double") / n_tok)
    n_bg = F.size("bg")

    def flag(cond, name):
        return F.coalesce(cond.cast("int"), F.lit(0)).alias(name)

    out = s.select(
        *docs.columns,
        flag((n_tok >= t["min_tokens"]) & (n_tok <= t["max_tokens"]),
             "pass_n_tokens"),
        flag((avg_len >= t["min_avg_token_len"])
             & (avg_len <= t["max_avg_token_len"]), "pass_avg_token_len"),
        flag(stops >= t["min_stopwords"], "pass_stopwords"),
        flag(short_frac <= t["max_short_token_frac"], "pass_short_tokens"),
        flag(F.when(n_bg == 0, F.lit(True)).otherwise(
            F.expr(top).cast("double") / n_bg <= t["max_top_bigram_frac"]),
            "pass_top_bigram"),
    )
    keep = F.col(FLAG_COLS[0])
    for c in FLAG_COLS[1:]:
        keep = keep * F.col(c)
    return out.select("*", keep.cast("int").alias("keep"))


@pytest.fixture(scope="module")
def crawl_docs(spark):
    from docwire_spark.spark.corpus import build_pages_df

    pages = build_pages_df(spark, 300, n_hosts=20, seed=5)
    return pages.select(
        F.xxhash64("url").alias("doc_id"),
        F.col("expected_text").cast("string").alias("text"),
    ).localCheckpoint()


@pytest.fixture(scope="module")
def hostile_docs(spark):
    base = ("the a of to in is it on for data spark table row value key "
            "part merge scan filter join hash batch stream window group")
    rows = [(i, f"{base} doc {i} variant words here") for i in range(12)]
    rows += [
        (12, ""), (13, None), (14, "x"), (15, "   \t\n  "), (16, "7"),
        (17, "alpha\fbeta\vgamma"),
        (18, "the the the the the the the the the the the the the the"),
        (19, "\u0130stanbul \u212aelvin \u03a3\u03c3\u03c2 STRASSE"
             " stra\u00dfe"),
        (20, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("corpus", ["crawl_docs", "hostile_docs"])
@pytest.mark.parametrize("thresholds", ["defaults", "pipeline"])
def test_flags_match_the_column_formulation(request, corpus, thresholds):
    docs = request.getfixturevalue(corpus)
    t = DEFAULTS if thresholds == "defaults" else PIPELINE
    got = quality_flags(docs, **t)
    ref = _reference_flags(docs, t)
    assert got.columns == ref.columns == [*docs.columns, *FLAG_COLS, "keep"]
    assert _rows(got) == _rows(ref)
    kept = _rows(got.filter(F.col("keep") == 1).select(*docs.columns))
    assert kept == _rows(ref.filter(F.col("keep") == 1).select(*docs.columns))
    if (corpus, thresholds) == ("crawl_docs", "pipeline"):
        assert 0 < len(kept) < docs.count()  # the phase-2 filter bites


def test_pushed_keep_filter_tokenizes_once(crawl_docs):
    """Phase 2's shape: the ``keep == 1`` filter is pushed below the
    projection, with the tokenizer inside it once, not once per flag."""
    kept = quality_flags(crawl_docs, **PIPELINE).filter(
        F.col("keep") == 1).select(*crawl_docs.columns)
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1
