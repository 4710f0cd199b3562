"""Skew stress (VERDICT r3 #6): the generator corpora are benign, so
these tests build a zipf-template corpus where ONE near-dup cluster
holds ~10% of documents and assert the scale guarantees hold:

- dedup_components: the alternating-star iteration converges in
  O(log n) rounds and the working edge set stays within a constant
  factor of the input edges (the Kiveris large-star guarantee) — no
  round inflates the graph, no task drowns in a mega-cluster.
- pagerank: the df-capped edge derivation keeps the edge count LINEAR
  in corpus size even when a hot template would otherwise produce a
  ~(0.1 n)^2 clique.
"""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F


def _zipf_corpus(spark, tmp_path, n_docs=1200, cluster_frac=0.1, seed=11):
    """documents.parquet where cluster_frac of docs are near-dups of
    one template (distinct token sets, pairwise Jaccard ~0.9) and the
    rest are unique-ish random token docs."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(4000)]
    template = [f"t{i}" for i in range(40)]  # 40 shared template tokens
    rows = []
    n_cluster = int(n_docs * cluster_frac)
    for d in range(n_docs):
        if d < n_cluster:
            # template + 2 unique tokens -> distinct shingle sets, one
            # giant near-dup component
            toks = template + [f"u{d}a", f"u{d}b"]
        else:
            toks = rng.sample(vocab, 30)
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = os.path.join(str(tmp_path), "documents.parquet")
    df.repartition(8).write.mode("overwrite").parquet(out)
    return str(tmp_path), n_cluster


def test_components_converge_log_rounds_on_mega_cluster(spark, tmp_path):
    from docwire_spark.ops.common import load
    from docwire_spark.ops.dedup import (
        _cc_converge, _minhash_rep_pairs, dedup_components,
    )

    sf_dir, n_cluster = _zipf_corpus(spark, tmp_path)

    groups, _, verified = _minhash_rep_pairs(load(spark, sf_dir, "documents"))
    edges = verified.select(F.col("ga").alias("u"), F.col("gb").alias("v"))
    n_edges = edges.count()
    assert n_edges > 0
    stats: dict = {}
    _cc_converge(edges, stats=stats)

    n_nodes = groups.count()
    # O(log n) rounds (alternating star converges in O(log^2 n) worst
    # case, O(log n) in practice; the bound below is generous but
    # catches a linear-rounds regression outright)
    bound = 4 * math.ceil(math.log2(max(n_nodes, 2))) + 4
    assert stats["rounds"] <= bound, (stats, n_nodes)
    # the working edge set must never blow past the input graph: star
    # steps only ever relink existing nodes toward minima (<= one edge
    # per node per round plus the frontier), never square the graph
    assert stats["max_edges"] <= 2 * n_edges + n_nodes, (stats, n_edges)

    # end-to-end: the mega-cluster collapses to one component
    out = dedup_components(spark, sf_dir)
    sizes = (
        out.groupBy("component_id").count()
        .orderBy(F.desc("count")).limit(1).collect()
    )
    assert sizes[0]["count"] >= n_cluster  # all template docs together

    from docwire_spark.ops.common import release_persisted

    release_persisted()


def test_pagerank_edges_stay_linear_under_hot_template(spark, tmp_path):
    from docwire_spark.ops.graph import _edges

    sf_dir, n_cluster = _zipf_corpus(spark, tmp_path)
    n_docs = 1200
    n_edges = _edges(spark, sf_dir).count()
    # a hot-template clique would be ~n_cluster^2 = 14400 edges from
    # the cluster alone; the df cap keeps the whole graph linear
    assert n_edges <= 6 * n_docs, n_edges

    from docwire_spark.ops.common import release_persisted

    release_persisted()
