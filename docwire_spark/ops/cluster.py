"""Distributed k-means over the embedding table (Lloyd's algorithm).

The iterative-ML shape on Spark: centroids are TINY (k x dim doubles)
and the points are huge, so each Lloyd iteration is one full scan
that assigns every point to its nearest centroid with the centroids
inlined as literals into the plan (the driver collects k rows per
iteration — the textbook MLlib topology; never the reverse, which
would shuffle the points).  Per-dimension means are computed with 64
codegen ``avg`` aggregates — map-side partial aggregation, one slim
shuffle of k*dim partial sums per iteration, no window, no explode.

Cross-engine determinism (the DuckDB oracle replays the same two
iterations in SQL CTEs):

- distances fold left-to-right from 0.0 in BOTH engines (Spark
  ``aggregate``, DuckDB ``list_reduce`` — adding 0.0 first is exact),
  over the same float->double element casts, so per-pair distances
  are bit-identical;
- ties in argmin break on the lower centroid id in both plans;
- recomputed centroids pass through ``round(avg, 9)``: group-sum
  ordering may differ between engines in the last ULP, and the round
  collapses that before the next iteration's comparisons;
- the output carries integer statistics only (counts, id sums) —
  no floats to hash.

ITERS is fixed at 2 so the oracle stays a static SQL string; the
builder generalizes by parameter for real use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import persist_tracked
from .dedup import _COS, EMB_VALID_SQL, NORM_FOLD, load_valid_embeddings

K = 10
DIM = 64
ITERS = 2


def _assign(vecs: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Add ``cluster`` = argmin_c dist(v, c), ties to lower cid.

    Centroids are plan literals — the broadcast-of-small-side analog
    for expression evaluation; the scan streams, nothing shuffles."""
    dist_structs = []
    for cid, cvec in cents:
        arr = F.array(*[F.lit(float(x)) for x in cvec])
        d = F.aggregate(
            F.zip_with("v", arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0).cast("double"),
            lambda s, x: s + x,
        )
        dist_structs.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
    best = F.array_sort(F.array(*dist_structs))[0]["cid"]
    return vecs.withColumn("cluster", best)


def _recompute(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """k rows of 64 rounded per-dimension means, collected to driver."""
    rows = (
        assigned.groupBy("cluster")
        .agg(*[
            F.round(F.avg(F.col("v")[i]), 9).alias(f"m{i}")
            for i in range(DIM)
        ])
        .collect()
    )
    return sorted(
        (int(r["cluster"]), [r[f"m{i}"] for i in range(DIM)]) for r in rows
    )


def _lloyd_assign(vecs: DataFrame) -> DataFrame:
    """ITERS Lloyd iterations from deterministic seeds (vec_id < K);
    returns the final per-point assignment (vec_id, v, cluster)."""
    seeds = (
        vecs.filter(F.col("vec_id") < K)
        .orderBy("vec_id")
        .collect()
    )
    if not seeds:
        # every seed row dropped by the validity guard (or absent):
        # the oracle's c0 cross join makes the assignment the EMPTY
        # relation — return it, never crash on int(None) downstream
        return vecs.sparkSession.createDataFrame(
            [], "vec_id bigint, v array<double>, cluster int"
        )
    cents = [(int(r["vec_id"]), list(r["v"])) for r in seeds]
    assigned = None
    for _ in range(ITERS):
        assigned = _assign(vecs, cents)
        cents = _recompute(assigned)
    return assigned


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations from deterministic seeds (vec_id < K);
    returns integer per-cluster statistics."""
    assigned = _lloyd_assign(load_valid_embeddings(spark, sf_dir))
    return (
        assigned.groupBy(F.col("cluster").cast("int").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
            F.min("vec_id").cast("bigint").alias("min_vec_id"),
        )
    )


def _dist_sql(emb: str, cvec: str) -> str:
    # left fold from 0.0 — mirrors Spark's aggregate exactly
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {DIM + 1}),"
        f" i -> ({emb}[i] - {cvec}[i]) * ({emb}[i] - {cvec}[i]))),"
        " (s, x) -> s + x)"
    )


#: the shared Lloyd CTE chain (v -> c0 -> d1 -> a1 -> m1 -> c1 -> d2
#: -> a2); both KMEANS_SQL and SEMDEDUP_SQL replay the same two
#: iterations
_LLOYD_CTES = f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  WHERE {EMB_VALID_SQL}
), c0 AS (
  SELECT vec_id AS cid, emb AS cvec FROM v WHERE vec_id < {K}
), d1 AS (
  SELECT v.vec_id, c0.cid, {_dist_sql('v.emb', 'c0.cvec')} AS dist
  FROM v CROSS JOIN c0
), a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
), m1 AS (
  SELECT a1.cluster AS cid, u.i AS dim, round(avg(v.emb[u.i]), 9) AS m
  FROM a1 JOIN v USING (vec_id), unnest(range(1, {DIM + 1})) AS u(i)
  GROUP BY a1.cluster, u.i
), c1 AS (
  SELECT cid, list(m ORDER BY dim) AS cvec FROM m1 GROUP BY cid
), d2 AS (
  SELECT v.vec_id, c1.cid, {_dist_sql('v.emb', 'c1.cvec')} AS dist
  FROM v CROSS JOIN c1
), a2 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
)"""

KMEANS_SQL = f"""
WITH {_LLOYD_CTES}
SELECT CAST(cluster AS INTEGER) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM a2 GROUP BY cluster
"""


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication", 2023): cluster the
# embedding space with k-means, then prune near-duplicates ONLY
# within each cluster — the trick that turns the O(n^2) all-pairs
# cosine problem into k independent problems of size ~n/k.  Keep rule
# (deterministic variant of the paper's): within a cluster, a vector
# is dropped iff a LOWER-id vector sits within cosine >= SEMDEDUP_TAU.
#
# Scale design: the pairwise stage is an equi-join on cluster id —
# the join fan-out is bounded by the cluster size, which K controls
# (the paper runs k ~ 10^4-10^5 so clusters hold ~10^5 docs); the
# demo K here matches kmeans_embeddings so the oracle can replay the
# identical Lloyd assignment.  A pathologically hot cluster is the
# skew case: split it by salting the cluster key or raising K —
# never by falling back to all-pairs.
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.3

def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id, keep_flag): k-means clusters + in-cluster
    cosine pruning, keep-min per semantic-duplicate neighborhood."""
    vecs = load_valid_embeddings(spark, sf_dir)
    # persisted: the Lloyd loop already scanned it; the pair join
    # consumes it twice more
    a = persist_tracked(
        _lloyd_assign(vecs).withColumn("norm", F.expr(NORM_FOLD))
    )
    side = a.select("cluster", "vec_id", "v", "norm")
    # the cosine's zero-norm guard keeps an all-zero embedding (failed
    # encode row) inert in both engines (see dedup.cos_expr)
    pairs = (
        side.toDF("cluster", "va", "qv", "qnorm")
        .join(side.toDF("cluster", "vb", "nv", "nnorm"), "cluster")
        .filter(F.col("va") < F.col("vb"))
        .withColumn("cos", F.expr(_COS))
        .filter(F.col("cos") >= F.lit(SEMDEDUP_TAU))
    )
    drops = pairs.select(F.col("vb").alias("vec_id")).distinct()
    return (
        a.select("vec_id", F.col("cluster").cast("int").alias("cluster_id"))
        .join(drops.withColumn("dropped", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.when(F.col("dropped").isNull(), 1).otherwise(0)
            .cast("int").alias("keep_flag"),
        )
    )


_NORM_FOLD_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(emb, x -> x * x)), (s, x) -> s + x))"
)
_DOT_FOLD_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    f" list_transform(range(1, {DIM + 1}),"
    " i -> nx.emb[i] * ny.emb[i])), (s, x) -> s + x)"
)

SEMDEDUP_SQL = f"""
WITH {_LLOYD_CTES},
n AS (
  SELECT vec_id, emb, {_NORM_FOLD_SQL} AS norm FROM v
),
j AS (
  SELECT ax.vec_id AS va, ay.vec_id AS vb,
         CASE WHEN nx.norm * ny.norm > 0 THEN
           round({_DOT_FOLD_SQL} / (nx.norm * ny.norm), 6) END AS cos
  FROM a2 ax
  JOIN a2 ay ON ax.cluster = ay.cluster AND ax.vec_id < ay.vec_id
  JOIN n nx ON nx.vec_id = ax.vec_id
  JOIN n ny ON ny.vec_id = ay.vec_id
),
drops AS (SELECT DISTINCT vb FROM j WHERE cos >= {SEMDEDUP_TAU})
SELECT a2.vec_id,
       CAST(a2.cluster AS INTEGER) AS cluster_id,
       CAST(CASE WHEN d.vb IS NULL THEN 1 ELSE 0 END AS INT) AS keep_flag
FROM a2 LEFT JOIN drops d ON d.vb = a2.vec_id
"""


QUERIES = {
    "kmeans_embeddings": kmeans_embeddings,
    "semdedup": semdedup,
}
ORACLES = {
    "kmeans_embeddings": KMEANS_SQL,
    "semdedup": SEMDEDUP_SQL,
}
