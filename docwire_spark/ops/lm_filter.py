"""Language-model quality scoring and importance-resampling selection
— the two standard *model-based* corpus-curation passes a web-scale
training-data pipeline runs after heuristic filtering:

* ``lm_perplexity`` — CCNet-style bigram-LM pseudo-perplexity with
  per-language head/middle/tail bucketing (Wenzek et al., "CCNet:
  Extracting High Quality Monolingual Datasets from Web Crawl Data",
  LREC 2020).  CCNet scores each paragraph with a KenLM model and
  buckets the corpus at per-language perplexity terciles; here the LM
  is a bigram add-k model trained distributed on the corpus itself
  (the sandbox has no KenLM and no external model artifacts — the
  join/aggregate SHAPE is the point, and it is identical for any
  n-gram order).

* ``dsir_select`` — hashed-n-gram importance resampling (Xie et al.,
  "Data Selection for Language Models via Importance Resampling",
  NeurIPS 2023).  Features are bigrams hashed into a FIXED number of
  buckets; the importance weight of a document is the sum over its
  feature occurrences of ``log(p(b)/q(b))`` where ``p`` is the bucket
  distribution of a target (curated) slice and ``q`` of the raw
  corpus.  Output is the deterministic top-K by weight.

Reference parity: the reference engine has no LM-filter operators —
these are training-data-pipeline extensions per the build brief
(same category as ops/corpus_filter.py, ops/dedup.py).

Scale design (10^12 documents):

* dsir_select is the bounded-model showcase: both distribution
  aggregates collapse to at most ``DSIR_BUCKETS`` rows (map-side
  partial agg does almost all the work), the weight table is
  broadcast BY CONSTRUCTION (its size is a constant of the operator,
  not of the corpus), scoring is one map-side broadcast-hash-join
  pass plus one doc_id-keyed partial agg, and the result is a
  TakeOrdered top-K — no global sort.
* lm_perplexity's model tables are corpus-derived (distinct bigrams
  ~ O(corpus tokens)), so the scoring joins are deliberately
  HINT-FREE shuffled equi-joins on the n-gram key — AQE promotes the
  unigram side to broadcast when measured small, and the bigram join
  is the same slim-key shape as ops/corpus_filter.decontaminate.
* The CCNet tercile cutoffs are computed with an NTILE window over a
  deterministic md5-hash SAMPLE (rate ``PPL_SAMPLE_RATE``), exactly
  as CCNet derives its cutoffs from a sample — the sample rate is
  the knob that bounds the per-language window input, and the
  resulting per-language threshold table (3 BIGINTs per language) is
  always broadcast-legal.  Full-corpus bucketing is then a map-side
  CASE against the broadcast thresholds — the per-language global
  sort the naive formulation would need never happens.

Engine-parity notes (the DuckDB oracles must hash-match bitwise):

* Per-bigram log-probabilities are quantized to scaled BIGINTs
  (``floor(ln(p) * 1e9 + 0.5)``) and summed EXACTLY — integer sums
  are reduction-order-independent, where a double sum over a
  shuffled corpus is not (the events_user_sessions lesson,
  ops/relational.py).
* Doubles in the output are computed from those exact integers by an
  identical arithmetic tree in both engines (the bm25 contract,
  ops/corpus_filter.py).
* Hash bucketing / sampling uses lowercase-hex md5 SUBSTRINGS
  compared as strings — no hex->integer parse, which Spark and
  DuckDB do not agree on (see ops/corpus_filter._rate_thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .common import (
    BIGRAMS_OF_TS, TOKENS_EXPR, TOKENS_SQL, bigrams_sql, let_expr, load,
    persist_tracked,
)

#: bigrams of the ``tokens`` column, in each engine
_BIGRAMS_EXPR = let_expr("tokens", "ts", BIGRAMS_OF_TS)
_BIGRAMS_SQL = bigrams_sql("tokens")

#: add-k smoothing constant (identical literal in both engines)
LM_ADD_K = 0.5
#: CCNet cutoff sample: keep iff first 8 md5 hex chars < this (~10%).
PPL_SAMPLE_RATE_HEX = "1999999a"
#: scaled-BIGINT quantum for log-probabilities
LP_SCALE = 1_000_000_000
#: every value ``lm_perplexity`` puts in its ``bucket`` column
PPL_BUCKETS = ("head", "middle", "tail", "unsampled", "none")


def _lp_scaled_expr(c_bg: str, c_w1: str, v: str) -> str:
    """floor(ln((c_bg + k) / (c_w1 + k*V)) * 1e9 + 0.5) as BIGINT —
    textually identical in Spark SQL and DuckDB."""
    return (
        f"CAST(floor(ln((CAST({c_bg} AS DOUBLE) + {LM_ADD_K})"
        f" / (CAST({c_w1} AS DOUBLE) + {LM_ADD_K} * CAST({v} AS DOUBLE)))"
        f" * {LP_SCALE}.0 + 0.5) AS BIGINT)"
    )


def lm_scores(docs: DataFrame) -> DataFrame:
    """``docs`` (``doc_id``, ``lang``, ``text``, ...) plus the columns
    ``n_bigrams``, ``lp_sum``, ``ppl`` and ``bucket``: bigram-LM
    pseudo-perplexity and CCNet bucket per document.

    Plan: one corpus scan explodes slim ``(doc_id, lang, bigram)``
    rows; one hint-free counting aggregate gives the bigram counts, and
    the context counts (keyed by w1) and the 1-row successor-vocabulary
    scalar derive from that table; scoring re-joins the exploded rows
    to the model on the bigram and reduces per doc_id to an EXACT
    scaled-BIGINT log-prob sum.  The exploded rows, the bigram counts
    and the per-doc sums are each materialized once, before the plans
    that read them run.  Tercile cutoffs come from an NTILE(3) window
    over the ~10% md5 sample only; the per-language cutoff table
    broadcast-joins back so bucketing is map-side.  Languages are
    bucketed by ``coalesce(lang, '')``."""
    lang = F.expr("coalesce(lang, '')")
    tokens = docs.select(
        "doc_id", lang.alias("lang"), F.expr(TOKENS_EXPR).alias("tokens")
    )
    # each table several later branches read is computed now, once
    # (an eager localCheckpoint), before the plans that read it run:
    # adaptive execution submits independent branches concurrently,
    # and each would otherwise recompute it (or fill the same lazy
    # cache).  The bigram counts and the scoring join both read the
    # exploded rows (the bm25 single-scan pattern; at real scale this
    # materialization is a checkpoint table)
    bg_rows = tokens.select(
        "doc_id", "lang", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg")
    ).localCheckpoint()

    # model built entirely at DISTINCT-BIGRAM granularity: context
    # counts and the successor vocabulary derive from the one
    # bigram-count table (sum/countDistinct over distinct rows ==
    # counts over occurrences), and the per-bigram log-prob is
    # precomputed INTO the model — so the corpus-wide occurrence rows
    # take exactly ONE scoring join
    bgc = bg_rows.groupBy("bg").agg(F.count("*").alias("c_bg")).select(
        "bg", "c_bg",
        F.expr("split(bg, ' ')[0]").alias("w1"),
        F.expr("split(bg, ' ')[1]").alias("w2"),
    ).localCheckpoint()
    ugc = bgc.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    vocab = bgc.select(F.countDistinct("w2").alias("v"))
    model = (
        bgc.join(ugc, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg", F.expr(_lp_scaled_expr("c_bg", "c_w1", "v")).alias("lp")
        )
    )
    # the cutoff sample and the all-docs join both read per_doc; the
    # exact integer sums make it independent of plan shape
    per_doc = (
        bg_rows.join(model, "bg")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("lp").alias("lp_sum"),
        )
        .localCheckpoint()
    )

    sample = per_doc.filter(
        F.expr("substring(md5(CAST(doc_id AS STRING)), 1, 8)")
        < F.lit(PPL_SAMPLE_RATE_HEX)
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("lp_sum").desc(), F.col("doc_id")
    )
    cuts = (
        sample.withColumn("tile", F.ntile(3).over(w))
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("tile") == 1, F.col("lp_sum"))).alias("t1"),
            F.min(F.when(F.col("tile") == 2, F.col("lp_sum"))).alias("t2"),
        )
    )

    all_docs = docs.withColumn("_lang", lang).join(
        per_doc.select("doc_id", "n_bigrams", "lp_sum"), "doc_id", "left"
    )
    out = all_docs.join(
        F.broadcast(cuts.withColumnRenamed("lang", "_lang")), "_lang", "left"
    )
    n_bg = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
    lp_sum = F.coalesce(F.col("lp_sum"), F.lit(0)).cast("bigint")
    # identical arithmetic tree to the oracle: exact ints -> one
    # exp/div chain -> round(.., 6)
    ppl = F.when(
        n_bg > 0,
        F.round(
            F.exp(
                -(lp_sum.cast("double") / F.lit(float(LP_SCALE)))
                / n_bg.cast("double")
            ),
            6,
        ),
    )
    bucket = (
        F.when(n_bg == 0, F.lit("none"))
        .when(F.col("t1").isNull(), F.lit("unsampled"))
        .when(lp_sum >= F.col("t1"), F.lit("head"))
        .when(
            F.col("t2").isNotNull() & (lp_sum >= F.col("t2")),
            F.lit("middle"),
        )
        .otherwise(F.lit("tail"))
    )
    return out.select(
        *docs.columns,
        n_bg.alias("n_bigrams"),
        lp_sum.alias("lp_sum"),
        ppl.alias("ppl"),
        bucket.alias("bucket"),
    )


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM pseudo-perplexity + CCNet bucket (see
    ``lm_scores``)."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    return lm_scores(docs).select(
        "doc_id",
        F.expr("coalesce(lang, '')").alias("lang"),
        "n_bigrams", "lp_sum", "ppl", "bucket",
    )


_LM_LP_SQL = _lp_scaled_expr("c_bg", "c_w1", "v")

LM_PERPLEXITY_SQL = f"""
WITH t AS (
  SELECT doc_id, coalesce(lang, '') AS lang, {TOKENS_SQL} AS tokens
  FROM documents
),
bg_rows AS MATERIALIZED (
  SELECT doc_id, lang, bg, string_split(bg, ' ')[1] AS w1
  FROM t, unnest({_BIGRAMS_SQL}) AS u(bg)
),
bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM bg_rows GROUP BY bg),
ugc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w1 FROM bg_rows GROUP BY w1),
vocab AS (
  SELECT CAST(count(DISTINCT string_split(bg, ' ')[2]) AS BIGINT) AS v
  FROM bg_rows
),
per_doc AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum({_LM_LP_SQL}) AS BIGINT) AS lp_sum
  FROM bg_rows JOIN bgc USING (bg) JOIN ugc USING (w1), vocab
  GROUP BY doc_id, lang
),
sample AS (
  SELECT * FROM per_doc
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        < '{PPL_SAMPLE_RATE_HEX}'
),
tiles AS (
  SELECT lang, lp_sum,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY lp_sum DESC, doc_id) AS tile
  FROM sample
),
cuts AS (
  SELECT lang,
         min(CASE WHEN tile = 1 THEN lp_sum END) AS t1,
         min(CASE WHEN tile = 2 THEN lp_sum END) AS t2
  FROM tiles GROUP BY lang
)
SELECT d.doc_id, d.lang,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(p.lp_sum, 0) AS BIGINT) AS lp_sum,
       CASE WHEN coalesce(p.n_bigrams, 0) > 0 THEN
         round(exp(-(CAST(coalesce(p.lp_sum, 0) AS DOUBLE)
                     / {LP_SCALE}.0)
                   / CAST(coalesce(p.n_bigrams, 0) AS DOUBLE)), 6)
       END AS ppl,
       CASE
         WHEN coalesce(p.n_bigrams, 0) = 0 THEN 'none'
         WHEN c.t1 IS NULL THEN 'unsampled'
         WHEN coalesce(p.lp_sum, 0) >= c.t1 THEN 'head'
         WHEN c.t2 IS NOT NULL AND coalesce(p.lp_sum, 0) >= c.t2
           THEN 'middle'
         ELSE 'tail'
       END AS bucket
FROM t d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN cuts c ON c.lang = d.lang
"""


# ---------------------------------------------------------------------------
# DSIR importance selection
# ---------------------------------------------------------------------------

#: number of hashed feature buckets — the MODEL SIZE, a constant of
#: the operator (Xie et al. use 10^4; 3 hex chars = 4096 here so the
#: bucket key stays a parity-safe hex substring).  Production would
#: widen the substring (4 chars = 65536), never changing the plan.
DSIR_HEX_CHARS = 3
DSIR_BUCKETS = 16 ** DSIR_HEX_CHARS
#: target slice: md5('t:' || doc_id) < 25% — a deterministic stand-in
#: for a real curated target corpus (same join shape either way)
DSIR_TARGET_HEX = "40000000"
#: top-K documents returned
DSIR_K = 200
#: DSIR distribution smoothing — deliberately much smaller than
#: LM_ADD_K: the smoothed mass k*B must stay well below the target
#: slice's total feature count P, or every OBSERVED target bucket is
#: crushed toward the uniform prior and hapax noise outranks genuine
#: target-likeness (measured on the test corpus: k=0.5 inverted the
#: ranking, k=0.01 restores it; at production P the term vanishes)
DSIR_ADD_K = 0.01


def _dsir_w_expr(p_b: str, p_tot: str, q_b: str, q_tot: str) -> str:
    """floor(ln(p_hat / q_hat) * 1e9 + 0.5) as BIGINT with add-k
    smoothed bucket probabilities — identical text both engines."""
    return (
        f"CAST(floor(ln(((CAST({p_b} AS DOUBLE) + {DSIR_ADD_K})"
        f" / (CAST({p_tot} AS DOUBLE) + {DSIR_ADD_K} * {DSIR_BUCKETS}.0))"
        f" / ((CAST({q_b} AS DOUBLE) + {DSIR_ADD_K})"
        f" / (CAST({q_tot} AS DOUBLE) + {DSIR_ADD_K} * {DSIR_BUCKETS}.0)))"
        f" * {LP_SCALE}.0 + 0.5) AS BIGINT)"
    )


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``DSIR_K`` documents by hashed-bigram importance weight.

    The raw and target bucket distributions each collapse to at most
    ``DSIR_BUCKETS`` rows (map-side partial aggregation does the
    heavy lifting), the joined weight table is broadcast by
    construction, scoring is a map-side broadcast join over the
    exploded feature rows plus one doc_id-keyed exact integer sum,
    and the top-K is a TakeOrdered — no global sort, no
    corpus-proportional state anywhere past the scan."""
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", F.expr(TOKENS_EXPR).alias("tokens")
    )
    # persisted for the same reason as lm_perplexity's bg_rows: q, p,
    # and scoring each consume the exploded feature rows
    feats = persist_tracked(
        docs.select(
            "doc_id", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg")
        ).select(
            "doc_id",
            F.expr(f"substring(md5(bg), 1, {DSIR_HEX_CHARS})").alias("fb"),
            F.expr(
                "substring(md5(concat('t:', CAST(doc_id AS STRING))), 1, 8)"
            ).alias("tkey"),
        )
    )
    # ONE pass builds both distributions: conditional count for the
    # target slice rides the same map-side partial agg as the raw
    # count (no second corpus aggregate, no p-vs-q join)
    dist = feats.groupBy("fb").agg(
        F.count("*").cast("bigint").alias("q_b"),
        F.sum(
            (F.col("tkey") < F.lit(DSIR_TARGET_HEX)).cast("bigint")
        ).alias("p_b"),
    )
    totals = dist.agg(
        F.sum("q_b").alias("q_tot"), F.sum("p_b").alias("p_tot")
    )
    weights = dist.crossJoin(F.broadcast(totals)).select(
        "fb",
        F.expr(
            _dsir_w_expr("coalesce(p_b, 0)", "p_tot", "q_b", "q_tot")
        ).alias("w"),
    )
    per_doc = (
        feats.join(F.broadcast(weights), "fb")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("w").alias("lw_sum"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_feats",
            F.col("lw_sum").cast("bigint").alias("lw_sum"),
            F.round(
                F.col("lw_sum").cast("double") / F.lit(float(LP_SCALE)), 6
            ).alias("logweight"),
        )
        .orderBy(F.desc("lw_sum"), "doc_id")
        .limit(DSIR_K)
    )


_DSIR_W_SQL = _dsir_w_expr("coalesce(p_b, 0)", "p_tot", "q_b", "q_tot")

DSIR_SELECT_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
),
feats AS MATERIALIZED (
  SELECT doc_id,
         substring(md5(bg), 1, {DSIR_HEX_CHARS}) AS fb,
         substring(md5('t:' || CAST(doc_id AS VARCHAR)), 1, 8) AS tkey
  FROM t, unnest({_BIGRAMS_SQL}) AS u(bg)
),
q AS (SELECT fb, CAST(count(*) AS BIGINT) AS q_b FROM feats GROUP BY fb),
p AS (
  SELECT fb, CAST(count(*) AS BIGINT) AS p_b FROM feats
  WHERE tkey < '{DSIR_TARGET_HEX}' GROUP BY fb
),
totals AS (
  SELECT (SELECT CAST(sum(q_b) AS BIGINT) FROM q) AS q_tot,
         (SELECT CAST(sum(p_b) AS BIGINT) FROM p) AS p_tot
),
weights AS (
  SELECT fb, {_DSIR_W_SQL} AS w
  FROM q LEFT JOIN p USING (fb), totals
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(w) AS BIGINT) AS lw_sum
  FROM feats JOIN weights USING (fb)
  GROUP BY doc_id
)
SELECT doc_id, n_feats, lw_sum,
       round(CAST(lw_sum AS DOUBLE) / {LP_SCALE}.0, 6) AS logweight
FROM per_doc
ORDER BY lw_sum DESC, doc_id
LIMIT {DSIR_K}
"""


QUERIES = {
    "lm_perplexity": lm_perplexity,
    "dsir_select": dsir_select,
}

ORACLES = {
    "lm_perplexity": LM_PERPLEXITY_SQL,
    "dsir_select": DSIR_SELECT_SQL,
}
