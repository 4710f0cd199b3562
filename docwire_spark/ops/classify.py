"""Hashed linear classifier inference — fastText-style quality
scoring as a pure Catalyst expression.

The production pattern for corpus-scale model inference with a linear
model over hashed token features (fastText, vowpal-wabbit, the quality
classifiers used to filter CC-scale pretraining data): every token
hashes into one of D weight buckets, the document score is the sum of
its tokens' bucket weights, and the label is a threshold on the score.
Done right, the entire forward pass is ONE map-side codegen expression
— no Python, no shuffle, no join: the "model" rides inside the
executor as arithmetic, so inference throughput equals scan
throughput.  At 10^12 documents that is the difference between a
pass that pipelines into the extraction scan and a pass that owns the
cluster for a day.

Here the weight of bucket ``b`` is the deterministic integer
``(b * 2654435761) % 1001 - 500`` (Knuth multiplicative mix), standing
in for trained weights; swapping in a real model means replacing that
expression with a lookup into a D-element literal array (D = 4096
fits comfortably in codegen) — the plan shape does not change.  All
arithmetic is BIGINT-exact, so scores are bit-identical across
engines, partitionings, and row orders — which is exactly what lets
DuckDB replay the full forward pass as the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bloom import hash_expr
from .common import TOKENS_EXPR, load

#: weight buckets (feature-hash space) — production D is 1e5-1e6;
#: 4096 keeps the oracle cheap while exercising real collisions
N_BUCKETS = 4096

#: NULL text scores as the empty document in BOTH engines (without
#: the coalesce, Spark's aggregate over a NULL array yields NULL
#: score/label while the oracle's coalesce yields 0 — a cross-engine
#: divergence on the first real corpus with a NULL text)
_TOK_DUCK = "regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')"


def _weight_lambda() -> str:
    """token -> bucket -> integer weight, as a SQL lambda body valid
    in BOTH Spark SQL and DuckDB (md5 slice fold + Knuth mix)."""
    bucket = hash_expr("t", 0, N_BUCKETS)
    return f"(({bucket}) * 2654435761) % 1001 - 500"


def ml_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no parallelize= repartition: the forward pass is cheap codegen,
    # so the scan's own byte-bounded splits are the right parallelism
    # and the plan stays Exchange-free (gated in tests)
    docs = load(spark, sf_dir, "documents")
    w = _weight_lambda()
    return docs.selectExpr(
        "doc_id",
        f"{TOKENS_EXPR} AS tokens",
    ).selectExpr(
        "doc_id",
        "CAST(size(tokens) AS BIGINT) AS n_tok",
        "CAST(aggregate(transform(tokens, t -> " + w + "),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"
        " AS score_int",
    ).selectExpr(
        "doc_id", "n_tok", "score_int",
        "CAST(score_int > 0 AS INT) AS label",
    )


ML_QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOK_DUCK} AS tokens
  FROM documents
)
SELECT doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tok,
       CAST(coalesce(list_sum(list_transform(tokens, t -> {_weight_lambda()})), 0)
            AS BIGINT) AS score_int,
       CAST(CAST(coalesce(list_sum(list_transform(tokens, t -> {_weight_lambda()})), 0)
            AS BIGINT) > 0 AS INT) AS label
FROM t
"""


def _bucket_lambda() -> str:
    return hash_expr("t", 0, N_BUCKETS)


#: teacher-label threshold for TRAINING: the Knuth-mix weights skew
#: negative on this tokenizer (teacher-score median ~ -1900 at every
#: sf), so thresholding at the median-ish constant yields balanced
#: classes — the centroid rule has no class-prior term, and balanced
#: labels are what make train accuracy a meaningful gate (vs the 82:18
#: split at threshold 0 where majority-vote already scores 0.82).
TEACHER_THRESHOLD = -1900


def ml_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier: a Rocchio/centroid text classifier
    (Rocchio 1971; Han & Karypis 2000) over hashed token features,
    fit to the teacher labels produced by ``ml_quality_score``'s
    hidden linear model, then evaluated on the training corpus.

    The centroid decision rule ``x . (c1/T1 - c0/T0) > 0`` is
    cross-multiplied into ``x . (c1*T0 - c0*T1) > 0`` so training AND
    inference stay BIGINT-exact end to end — no floats, no division,
    bit-identical across engines/partitionings/row orders (the
    property that lets DuckDB replay the whole fit as the oracle, and
    that order-dependent float SGD can never give;  an iterative
    batch-perceptron variant was measured to oscillate under lr=1 —
    one-shot closed-form fit is both cheaper and stable).

    Scale topology: one explode + hash-agg bounded by the model size
    (<= N_BUCKETS rows after map-side partial agg — the corpus-scale
    stage), two scalar totals, then the <= 4096-row weight table
    crosses to the driver and inference runs exactly like
    ml_quality_score: weights inlined as a literal array, one
    shuffle-free map pass at scan throughput.  The corpus never moves.
    Returns per-doc (doc_id, y, pred) for the training-set eval."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    bucket = _bucket_lambda()
    teacher = _weight_lambda()
    base = docs.selectExpr(
        "doc_id", f"{TOKENS_EXPR} AS tokens"
    ).selectExpr(
        "doc_id",
        f"transform(tokens, t -> {bucket}) AS buckets",
        f"CAST(aggregate(transform(tokens, t -> {teacher}),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        f" > {TEACHER_THRESHOLD} AS INT) AS y",
    )
    from .common import persist_tracked

    base = persist_tracked(base)

    occ = base.selectExpr(
        "CAST(y AS BIGINT) AS y", "explode(buckets) AS bucket"
    )
    cnts = occ.groupBy("bucket").agg(
        F.sum("y").alias("c1"),
        F.sum(F.expr("1 - y")).alias("c0"),
    )
    t1, t0 = 0, 0
    w = [0] * N_BUCKETS
    rows = cnts.collect()
    t1 = sum(int(r["c1"]) for r in rows)
    t0 = sum(int(r["c0"]) for r in rows)
    for r in rows:
        w[int(r["bucket"])] = int(r["c1"]) * t0 - int(r["c0"]) * t1
    arr = "array(" + ",".join(f"{v}L" for v in w) + ")"
    score = (
        f"aggregate(buckets, CAST(0 AS BIGINT),"
        f" (acc, b) -> acc + element_at({arr}, CAST(b + 1 AS INT)))"
    )
    return base.selectExpr(
        "doc_id", "y", f"CAST({score} > 0 AS INT) AS pred"
    )


def _train_sql() -> str:
    """Oracle: same closed-form fit — per-class bucket counts, scalar
    totals, cross-multiplied weights, per-doc re-score."""
    bucket = _bucket_lambda()
    teacher = _weight_lambda()
    th = TEACHER_THRESHOLD
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_DUCK}) AS t FROM documents
),
ydoc AS (
  SELECT d.doc_id, CAST(coalesce(s.sc, 0) > {th} AS INT) AS y
  FROM documents d
  LEFT JOIN (SELECT doc_id, sum({teacher}) AS sc FROM tok GROUP BY doc_id)
    s USING (doc_id)
),
occ AS (
  SELECT tok.doc_id, yd.y, {bucket} AS bucket
  FROM tok JOIN ydoc yd ON tok.doc_id = yd.doc_id
),
cnts AS (
  SELECT bucket,
         CAST(sum(y) AS BIGINT) AS c1,
         CAST(sum(1 - y) AS BIGINT) AS c0
  FROM occ GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c0) AS BIGINT) AS t0
  FROM cnts
),
w AS (
  SELECT bucket, c1 * tot.t0 - c0 * tot.t1 AS wv
  FROM cnts, tot
),
scores AS (
  SELECT o.doc_id, CAST(sum(w.wv) AS BIGINT) AS sc
  FROM occ o JOIN w USING (bucket)
  GROUP BY o.doc_id
)
SELECT yd.doc_id, yd.y,
       CAST(coalesce(s.sc, 0) > 0 AS INT) AS pred
FROM ydoc yd LEFT JOIN scores s USING (doc_id)
"""


ML_QUALITY_TRAIN_SQL = _train_sql()

QUERIES = {
    "ml_quality_score": ml_quality_score,
    "ml_quality_train": ml_quality_train,
}
ORACLES = {
    "ml_quality_score": ML_QUALITY_SCORE_SQL,
    "ml_quality_train": ML_QUALITY_TRAIN_SQL,
}
