"""Connected-components cluster dedup (ops/dedup.py).

The alternating large-star/small-star algorithm must label every node
with its component's min doc_id — including on a long CHAIN, the
adversarial case where pairwise thinking fails (A~B, B~C with A!~C)
and where naive min-propagation needs O(n) rounds while the star
algorithm needs O(log n).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docwire_spark.ops.dedup import _cc_converge


def _components(spark, edges):
    e = spark.createDataFrame(edges, "u bigint, v bigint")
    stars = _cc_converge(e)
    rows = stars.select("u", "v").collect()
    lab = {r["u"]: r["v"] for r in rows}
    # star invariant: every non-root points at the component min
    assert len(lab) == len(rows), "duplicate labels for a node"
    return lab


def test_chain_clique_and_bridge(spark):
    edges = (
        # chain 1-2-3-4-5-6-7-8 (near-dup transitivity)
        [(i, i + 1) for i in range(1, 8)]
        # clique on 20..24
        + [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
        # two nodes bridged out of order
        + [(40, 31), (31, 35)]
    )
    lab = _components(spark, edges)
    assert {lab[i] for i in range(2, 9)} == {1}
    assert {lab[i] for i in range(21, 25)} == {20}
    assert lab[40] == lab[35] == 31
    assert 1 not in lab and 20 not in lab and 31 not in lab  # roots


def test_long_chain_converges_in_log_rounds(spark):
    # 64-node chain: star alternation is O(log n); the round cap (50)
    # must never be the thing that saves us
    edges = [(i, i + 1) for i in range(1, 64)]
    lab = _components(spark, edges)
    assert {lab[i] for i in range(2, 65)} == {1}


def test_dedup_components_keeps_one_per_cluster(spark, tmp_path):
    import os

    d = str(tmp_path)
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),        # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta"),    # near-dup of 1
        (4, "totally different words entirely unrelated"),
        (5, None),                                         # hostile row
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(os.path.join(d, "documents.parquet"))

    from docwire_spark.ops.dedup import dedup_components

    out = {
        r["doc_id"]: (r["component_id"], r["keep_flag"])
        for r in dedup_components(spark, d).collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (1, 0)
    assert out[3] == (1, 0)
    assert out[4] == (4, 1)
    assert out[5] == (5, 1)
    from docwire_spark.ops.common import release_persisted

    release_persisted()


def test_canonical_select_keeps_best_member_per_cluster(spark):
    import os
    from collections import defaultdict

    from docwire_spark.ops.common import load
    from docwire_spark.ops.dedup import dedup_canonical_select

    sf = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
    )
    rows = dedup_canonical_select(spark, sf).collect()
    quality = {
        r.doc_id: (r.n_chars if r.n_chars is not None else -1)
        for r in load(spark, sf, "documents")
        .select("doc_id", "n_chars").collect()
    }
    assert len(rows) == len(quality)
    by_comp = defaultdict(list)
    for r in rows:
        by_comp[r.component_id].append(r)
    for cid, members in by_comp.items():
        canon = [r for r in members if r.is_canonical == 1]
        assert len(canon) == 1, cid
        # the winner maximizes (quality, -doc_id) over the cluster
        best = min(members, key=lambda r: (-quality[r.doc_id], r.doc_id))
        assert canon[0].doc_id == best.doc_id == canon[0].canonical_doc_id
        # every member agrees on the canonical id
        assert {r.canonical_doc_id for r in members} == {best.doc_id}
