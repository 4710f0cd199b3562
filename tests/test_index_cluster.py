"""Semantics + plan-shape tests for the inverted index and k-means."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# inverted index
# ---------------------------------------------------------------------------


def test_inverted_index_segments_are_bounded(spark):
    """Every (token, bucket) group holds at most BUCKET_DOCS postings —
    the property that makes the hot-token aggregation state bounded."""
    from docwire_spark.ops.index import BUCKET_DOCS, inverted_index

    rows = inverted_index(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r["postings"].split(",")]
        assert len(ids) == r["df_bucket"] <= BUCKET_DOCS
        assert ids == sorted(ids)
        assert all(i // BUCKET_DOCS == r["bucket"] for i in ids)
        assert r["tf_bucket"] >= r["df_bucket"]


def test_inverted_index_matches_manual_postings(spark):
    """Spot-check one token's full posting set against a direct scan."""
    from docwire_spark.ops.index import inverted_index
    from docwire_spark.ops.common import load, with_tokens

    idx = inverted_index(spark, SF_DIR)
    token = idx.orderBy("token", "bucket").first()["token"]
    got = sorted(
        int(d)
        for r in idx.filter(F.col("token") == token).collect()
        for d in r["postings"].split(",")
    )
    docs = with_tokens(load(spark, SF_DIR, "documents"))
    want = sorted(
        r["doc_id"]
        for r in docs.filter(F.array_contains("tokens", token))
        .select("doc_id").collect()
    )
    assert got == want


def test_inverted_index_plan_has_no_cartesian_or_broadcast(spark):
    from docwire_spark.ops.index import inverted_index

    plan = _plan(inverted_index(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan  # pure agg pipeline, no join


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------


def test_kmeans_improves_sse_each_iteration(spark):
    """Lloyd's invariant: total within-cluster SSE is non-increasing
    across iterations (and strictly improves from the raw seeds on
    this corpus).  The synthetic embeddings are near-uniform (no
    label geometry — measured purity ~1/K), so convergence quality,
    not label recovery, is the correct gate."""
    from docwire_spark.ops import cluster as C
    from docwire_spark.ops.common import load

    stats = C.kmeans_embeddings(spark, SF_DIR)
    rows = stats.collect()
    assert len(rows) == C.K
    assert sum(r["n_points"] for r in rows) == load(
        spark, SF_DIR, "embeddings"
    ).count()

    vecs = (
        load(spark, SF_DIR, "embeddings")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .alias("v"),
        )
    )
    seeds = vecs.filter(F.col("vec_id") < C.K).orderBy("vec_id").collect()
    cents = [(int(r["vec_id"]), list(r["v"])) for r in seeds]

    def sse(assigned):
        lut = {cid: vec for cid, vec in cents}
        return assigned.select(
            F.aggregate(
                F.zip_with(
                    "v",
                    F.array(*[
                        F.element_at(
                            F.map_from_arrays(
                                F.array(*[F.lit(c) for c, _ in cents]),
                                F.array(*[
                                    F.array(*[F.lit(x) for x in v])
                                    for _, v in cents
                                ]),
                            ),
                            F.col("cluster"),
                        )[i]
                        for i in range(C.DIM)
                    ]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda s, x: s + x,
            ).alias("d")
        ).agg(F.sum("d")).first()[0]

    sses = []
    for _ in range(C.ITERS):
        assigned = C._assign(vecs, cents)
        sses.append(sse(assigned))
        cents = C._recompute(assigned)
        assigned_new = C._assign(vecs, cents)
        sses.append(sse(assigned_new))
    # SSE sequence (assign under old cents, then under recomputed
    # cents) must be non-increasing; require a real improvement from
    # the raw seeds to the final state
    for a, b in zip(sses, sses[1:]):
        # slack covers the round(avg, 9) centroid quantization
        assert b <= a + 1e-6 * max(1.0, a), sses
    assert sses[-1] < sses[0], sses


def test_kmeans_assignment_pass_has_no_join_or_shuffle(spark):
    """Centroids are plan literals: the assignment pass must stream the
    scan — no join operator, no Exchange before the final agg's own
    partial/final pair."""
    from docwire_spark.ops import cluster as C
    from docwire_spark.ops.common import load

    vecs = (
        load(spark, SF_DIR, "embeddings")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .alias("v"),
        )
    )
    cents = [(i, [float(i)] * C.DIM) for i in range(C.K)]
    plan = _plan(C._assign(vecs, cents))
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_semdedup_survive_all_invalid_seed_rows(spark, tmp_path):
    """Every seed row (vec_id < K) NULL or wrong-dimension — the exact
    rows the embedding validity guard exists to drop.  Both ops must
    return the oracle's EMPTY relation (its c0 cross join is empty),
    never crash on int(None) in the centroid recompute."""
    import os

    import duckdb

    from docwire_spark.ops import cluster as C
    from docwire_spark.ops.common import release_persisted
    from tools.check_oracles import value_hash

    d = str(tmp_path)
    vecs = [(i, None if i % 2 == 0 else [1.0, 2.0], i % 8)
            for i in range(C.K)]
    vecs += [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(C.DIM)],
              i % 8) for i in range(C.K, 40)]
    spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(d, 'embeddings.parquet', '*.parquet')}'"
    )
    for fn, sql in ((C.kmeans_embeddings, C.KMEANS_SQL),
                    (C.semdedup, C.SEMDEDUP_SQL)):
        df = fn(spark, d)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        release_persisted()
        res = con.execute(sql)
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        assert sorted(cols) == sorted(ocols)
        assert len(rows) == len(orows) == 0
        assert value_hash(rows, cols) == value_hash(orows, ocols)
