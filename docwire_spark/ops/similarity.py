"""Similarity search over the ``embeddings`` table (array<float> column).

- ``similarity_topk``: brute-force cosine top-k for a fixed query set.
  The query side is tiny and broadcast; the scan side streams — the
  canonical "exact" baseline.
- ``similarity_ann_lsh``: multi-band random-hyperplane LSH (the scale
  path): 96 deterministic ±1 hyperplanes grouped into 24 bands of 4
  sign bits (the same family the embedding dedup uses); a vector is a
  candidate for a query iff they share at least one band key.
  Candidate generation is an equi-join on (band, key) — the shuffle
  key at cluster scale — followed by a distinct over the small
  (query, neighbor) id set and exact scoring of candidates only.
  Measured recall@5 vs the brute-force top-5 is asserted in
  tests/test_dedup_lsh.py (single-band sign-LSH at k=8 planes had
  ~5% precision on this corpus — multi-band is what makes sign-LSH
  usable for retrieval).

All verification arithmetic uses built-in higher-order functions
(``zip_with`` / ``aggregate``) over ``array<double>`` — JVM-side,
sequential left fold, so the DuckDB oracle reproduces results
bit-for-bit (both engines do IEEE-754 double ops over identical
float32 inputs in the same order).  Scores are additionally rounded
to 6 decimals and the rounded value is used for ranking so ordering
is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from docwire_spark.ops.common import (
    BROADCAST_HEAVY_ROW_LIMIT,
    persist_tracked,
)
from docwire_spark.ops.dedup import (
    _COS, EMB_BAND_CTES, EMB_VECS_SQL, NORM_FOLD, _join_ends,
    banded_embeddings, cos_expr, dot_sql, load_valid_embeddings,
)

TOPK = 10
LSH_TOPK = 5
N_QUERIES = 10
LSH_N_QUERIES = 20


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``(query_id, neighbor_id, rank, cos_sim)`` per
    query of the ``scored`` pairs: cosine descending, ties to the lower
    neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _score_topk(cand: DataFrame, vn: DataFrame, n_vecs: int,
                n_queries: int, k: int) -> DataFrame:
    """Exact-score the ``(query_id, neighbor_id)`` candidates of an ANN
    query against the ``(vec_id, v, norm)`` table ``vn`` of ``n_vecs``
    rows, and keep each query's top ``k``.  The query vectors are
    pre-filtered to the O(1) query set (``vec_id < n_queries``), so
    their broadcast is always safe; the neighbor vectors are O(corpus)
    and broadcast only under the heavy cap — past it the back-join
    shuffles on neighbor_id (bucketed-join shape at cluster scale)."""
    qvecs = vn.filter(F.col("vec_id") < n_queries).toDF(
        "query_id", "qv", "qnorm"
    )
    scored = _join_ends(
        cand.join(F.broadcast(qvecs), "query_id"), vn, n_vecs,
        BROADCAST_HEAVY_ROW_LIMIT, ("neighbor_id", "nv", "nnorm"),
    ).withColumn("cos_sim", F.expr(_COS))
    return _rank_topk(scored, k)


def topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_valid_embeddings(spark, sf_dir).withColumn(
        "norm", F.expr(NORM_FOLD)
    )
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).toDF(
        "query_id", "qv", "qnorm"
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(vecs.toDF("neighbor_id", "nv", "nnorm"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.expr(_COS))
    )
    return _rank_topk(scored, TOPK)


_DOT_SQL = dot_sql("a.v", "b.v")


def _topk_sql(k: int) -> str:
    """DuckDB: the top-``k`` tail of each similarity oracle, over its
    ``scored(query_id, neighbor_id, cos_sim)`` CTE."""
    return f"""SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id)
            AS BIGINT) AS rank,
       cos_sim
FROM scored
QUALIFY rank <= {k}
"""


TOPK_SQL = f"""
WITH {EMB_VECS_SQL},
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_DOT_SQL} / (a.norm * b.norm), 6) AS cos_sim
  FROM e a JOIN e b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
)
{_topk_sql(TOPK)}"""


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band sign-LSH retrieval: band keys from the shared numpy
    kernel; candidates via the (band, key) equi-join against the tiny
    broadcast query side; distinct ids; exact-score candidates only;
    window top-k.  At cluster scale the band table is the shuffle
    key and the scored candidate set is ~(recall-controlled) orders
    of magnitude smaller than the corpus."""
    banded, n_vecs = banded_embeddings(spark, sf_dir)
    bands = banded.select(
        "vec_id", F.posexplode("keys").alias("band", "key")
    )
    qbands = bands.filter(F.col("vec_id") < LSH_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "key"
    )
    cand = (
        bands.join(F.broadcast(qbands), on=["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _score_topk(cand, banded.select("vec_id", "v", "norm"), n_vecs,
                       LSH_N_QUERIES, LSH_TOPK)


ANN_LSH_SQL = f"""
WITH {EMB_BAND_CTES},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, p.vec_id AS neighbor_id
  FROM proj p JOIN proj q ON p.band = q.band AND p.key = q.key
                         AND p.vec_id <> q.vec_id
  WHERE q.vec_id < {LSH_N_QUERIES}
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_DOT_SQL} / (a.norm * b.norm), 6) AS cos_sim
  FROM cand c
  JOIN e a ON a.vec_id = c.query_id
  JOIN e b ON b.vec_id = c.neighbor_id
)
{_topk_sql(LSH_TOPK)}"""


# ---------------------------------------------------------------------------
# IVF retrieval (the other standard ANN scale path, FAISS-style):
# a fixed-size coarse quantizer partitions the corpus into inverted
# lists; a query probes only its IVF_NPROBE nearest lists.  Centroids
# here are a deterministic seed sample (the first K_CENTROIDS
# vectors) rather than k-means-trained — FAISS also initializes from
# a sample, and skipping the Lloyd iterations keeps the operator
# reproducible and oracle-checkable (measured recall@5 0.90-0.95
# scanning ~11% of the corpus; gated in tests/test_dedup_lsh-style).
#
# Scale shape: the centroid table is O(K) = fixed -> always
# broadcast-legal; assignment is a map-side broadcast NLJ + partial
# (map-side-combined) argmax agg, so the only corpus-sized shuffle
# carries ONE slim (vec_id, cid) row per vector — exactly the
# materialized inverted-list layout a 10^12-vector IVF index
# partitions by cid.  Candidate generation is an equi-join on cid
# (no distinct needed: each vector lives in exactly one list).
# ---------------------------------------------------------------------------

K_CENTROIDS = 32
IVF_NPROBE = 4
IVF_TOPK = 5
IVF_N_QUERIES = 20

_COS_CENT = cos_expr("v", "cv", "norm", "cnorm")


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    vn = persist_tracked(
        load_valid_embeddings(spark, sf_dir)
        .withColumn("norm", F.expr(NORM_FOLD))
    )
    n_vecs = vn.count()
    cents = F.broadcast(
        vn.filter(F.col("vec_id") < K_CENTROIDS).toDF("cid", "cv", "cnorm")
    )
    csim = vn.crossJoin(cents).withColumn("c_sim", F.expr(_COS_CENT))
    # argmax centroid per vector: max(struct(c_sim, -cid)) ==
    # (max c_sim, tie -> min cid); partial agg collapses the K rows
    # per vector map-side, so the shuffle is one slim row per vector
    assign = (
        csim.groupBy("vec_id")
        .agg(F.max(F.struct("c_sim", (-F.col("cid")).alias("neg"))).alias("m"))
        .select("vec_id", (-F.col("m.neg")).alias("cid"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.col("c_sim").desc(), F.col("cid")
    )
    probes = (
        vn.filter(F.col("vec_id") < IVF_N_QUERIES)
        .crossJoin(cents)
        .withColumn("c_sim", F.expr(_COS_CENT))
        .withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    cand = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _score_topk(cand, vn, n_vecs, IVF_N_QUERIES, IVF_TOPK)


ANN_IVF_SQL = f"""
WITH {EMB_VECS_SQL},
c AS (
  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM e
  WHERE vec_id < {K_CENTROIDS}
),
csim AS (
  SELECT e.vec_id, c.cid,
         round({dot_sql('e.v', 'c.cv')} / (e.norm * c.cnorm), 6) AS c_sim
  FROM e, c
),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY c_sim DESC, cid) AS rn
    FROM csim) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY c_sim DESC, cid) AS pr
    FROM csim WHERE vec_id < {IVF_N_QUERIES}) WHERE pr <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM asg a JOIN probes p ON a.cid = p.cid AND a.vec_id <> p.query_id
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         round({_DOT_SQL} / (a.norm * b.norm), 6) AS cos_sim
  FROM cand cd
  JOIN e a ON a.vec_id = cd.query_id
  JOIN e b ON b.vec_id = cd.neighbor_id
)
{_topk_sql(IVF_TOPK)}"""


QUERIES = {
    "similarity_topk": topk_bruteforce,
    "similarity_ann_lsh": ann_lsh,
    "similarity_ann_ivf": ann_ivf,
}

ORACLES = {
    "similarity_topk": TOPK_SQL,
    "similarity_ann_lsh": ANN_LSH_SQL,
    "similarity_ann_ivf": ANN_IVF_SQL,
}
