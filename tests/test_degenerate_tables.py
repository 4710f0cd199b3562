"""The pair-engine and embedding queries on tables with no valid row.

The hostile corpus (test_hostile_parity.py) always holds some valid
documents and vectors; these fixtures hold none: an empty
``documents`` and ``embeddings``, and tables of invalid rows only
(empty and NULL text; NULL, 3-dim and NULL-element vectors, all
dropped by the embeddings validity guard).  Each query must agree with
its DuckDB oracle on rows, columns and value hash — through every
band join, back-join, member expansion and top-k with empty input.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from tools.check_oracles import value_hash  # noqa: E402

QUERIES = (
    "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_embedding", "dedup_components", "dedup_canonical_select",
    "dedup_jaccard_exact", "similarity_topk", "similarity_ann_lsh",
    "similarity_ann_ivf", "kmeans_embeddings", "semdedup",
)

DOCS_SCHEMA = ("doc_id bigint, text string, lang string, source string,"
               " n_chars bigint")
VECS_SCHEMA = "vec_id bigint, embedding array<float>, label int"

TABLES = {
    "empty": ([], []),
    "invalid": (
        [(0, "", "en", "src0", 0), (1, None, "en", "src1", 0)],
        [(0, None, 0), (1, [1.0, 2.0, 3.0], 1), (2, [None] + [0.5] * 63, 2)],
    ),
}


@pytest.fixture(scope="module")
def table_dirs(spark, tmp_path_factory):
    dirs = {}
    for kind, (docs, vecs) in TABLES.items():
        d = str(tmp_path_factory.mktemp(kind))
        for name, rows, schema in (("documents", docs, DOCS_SCHEMA),
                                   ("embeddings", vecs, VECS_SCHEMA)):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                os.path.join(d, f"{name}.parquet")
            )
        dirs[kind] = d
    return dirs


@pytest.mark.parametrize("kind", sorted(TABLES))
@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle_on_degenerate_tables(spark, table_dirs,
                                                   name, kind):
    import __spark_entry__ as entry
    from docwire_spark.ops.common import release_persisted

    d = table_dirs[kind]
    df = entry.queries()[name](spark, d)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    release_persisted()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t + '.parquet', '*.parquet')}'")
    res = con.execute(entry.oracle_sql()[name])
    ocols = [c[0] for c in res.description]
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows)
    assert value_hash(rows, cols) == value_hash(orows, ocols)
