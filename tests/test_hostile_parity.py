"""Cross-ENGINE parity on the hostile corpus (upgrade of
test_hostile_corpus, which only asserts no-crash): representative
token-deriving ops must produce IDENTICAL results to their DuckDB
oracles when the corpus is salted with NULL text, empty text,
whitespace-only and 1-token rows — the degenerate class where Spark
and DuckDB NULL semantics diverge (size(NULL) = -1 vs len(NULL) =
NULL; see common.TOKENS_EXPR's coalesce-to-empty contract).

The driver's CORRECTNESS gate runs on null-free synthetic testdata;
this suite is what proves the same queries stay oracle-true on the
rows a real 10^12-page crawl is guaranteed to contain.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from tools.check_oracles import value_hash  # noqa: E402

#: ops whose fixtures need tables/columns the hostile corpus can't
#: satisfy (TPC-H relational, events, per-format binary synthesis —
#: each exercised by its own dedicated hostile suite)
SKIP_PREFIXES = ("extract_", "events_", "orders_", "top_parts",
                 "pricing_")
SKIP_NAMES = {"stream_events_windowed"}  # needs the events table
#: skipped by prefix but runnable on the hostile documents table —
#: a real Structured Streaming extraction over the degenerate rows
INCLUDE_NAMES = {"extract_stream_plain"}


@pytest.fixture(scope="module")
def hostile_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hostileparity"))
    base = (
        "the a of to in is it on for data spark table row value key part "
        "merge scan filter join hash batch stream window group order line"
    )
    docs = [
        *[
            (i, f"{base} doc {i} variant words here", "en", f"src{i % 20}",
             len(base) + 20)
            for i in range(24)
        ],
        (24, "", "en", "src0", 0),             # empty text
        (25, None, "en", "src1", 0),           # NULL text
        (26, "x", "en", "src2", 1),            # one token
        (27, "   \t\n  ", "en", "src3", 7),    # whitespace only
        (28, "7", None, None, 1),              # NULL lang + source
        # form feed + vertical tab: in the kernel's ASCII-whitespace
        # run but easy to omit from an oracle's collapse class
        (29, "alpha\fbeta\vgamma", "en", "src4", 16),
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    vecs = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)], i % 8)
            for i in range(37)]
    # degenerate embedding rows a 10^12-row table WILL contain: failed
    # encoder call (NULL), empty array, wrong dimension, a NULL element
    # (41 is vector 0 with its first element NULL: a near-dup of 0 in
    # DuckDB, whose list_sum skips the NULL, and a NaN norm in Spark),
    # a NaN element and an inf element (42, 43: vector 1 so salted, a
    # NaN cosine against every vector in both engines)
    vecs += [(37, None, 1), (38, [], 2), (39, [1.0, 2.0], 3),
             (40, [None] + [0.5] * 63, 4), (41, [None] + vecs[0][1][1:], 5),
             (42, [float("nan")] + vecs[1][1][1:], 6),
             (43, [float("inf")] + vecs[1][1][1:], 7)]
    spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_all_corpus_ops_match_oracles_on_hostile_rows(spark, hostile_dir):
    """EVERY oracle-bearing corpus op in the registry must produce
    results IDENTICAL to its DuckDB oracle on the hostile corpus —
    rows, schema, value hash.  This is the gate that caught: pagerank
    dividing by zero on an edge-free corpus, sample_stratified's
    CASE->NULL on a NULL source stratum, the WET writer's NULL-text
    coalesce missing from its oracle, and the embedding ops crashing
    on NULL/wrong-dimension vectors before the shared validity guard.

    Embedding rows that are NULL / empty / mis-dimensioned or hold a
    NULL, NaN or inf element must be DROPPED identically by both engines
    (dedup.EMB_VALID_SQL); token ops must agree on
    NULL/empty/whitespace-only text."""
    import __spark_entry__ as entry
    from docwire_spark.ops.common import release_persisted

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(hostile_dir, t + '.parquet', '*.parquet')}'"
        )
    mismatches, ran = [], []
    for name in sorted(qs):
        skipped = (name.startswith(SKIP_PREFIXES)
                   and name not in INCLUDE_NAMES) or name in SKIP_NAMES
        if skipped or name not in oracles:
            continue
        df = qs[name](spark, hostile_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        release_persisted()
        res = con.execute(oracles[name])
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            mismatches.append(f"{name}: cols {sorted(cols)} != "
                              f"{sorted(ocols)}")
        elif len(rows) != len(orows):
            mismatches.append(f"{name}: rows {len(rows)} != {len(orows)}")
        elif value_hash(rows, cols) != value_hash(orows, ocols):
            mismatches.append(f"{name}: value-hash mismatch")
        ran.append(name)
    assert not mismatches, mismatches
    # the sweep must actually cover every family, not silently skip
    assert {"pagerank", "sample_stratified", "wet_roundtrip",
            "warc_extract_wet", "dedup_minhash_lsh", "dedup_embedding",
            "similarity_ann_ivf", "kmeans_embeddings", "semdedup",
            "bpe_encode", "lm_perplexity", "inverted_index",
            "url_canonicalize", "bloom_url_blocklist",
            "multimodal_meta", "multimodal_frames",
            "extract_stream_plain", "stream_dedup_native",
            "stream_corpus_clean"} <= set(ran)


@pytest.fixture(scope="module")
def hostile_events_dir(spark, tmp_path_factory):
    import datetime

    T = datetime.datetime
    d = str(tmp_path_factory.mktemp("hostileevents"))
    rows = [
        (1, T(2024, 1, 1, 0, 0, 0), 1, "click", 1.0, "{}"),
        (2, T(2024, 1, 1, 0, 10, 0), 1, "purchase", 2.0, "{}"),
        (3, None, 1, "click", 1.0, "{}"),                    # NULL ts
        (4, T(2024, 1, 1, 1, 0, 0), None, "view", 0.5, "{}"),  # NULL user
        (5, T(2024, 1, 1, 2, 0, 0), 2, None, 1.5, "{}"),       # NULL type
        (6, T(2024, 1, 1, 3, 0, 0), 2, "purchase", None, "{}"),  # NULL value
        (7, T(2024, 1, 1, 3, 20, 0), 2, "click", 3.0, None),     # NULL props
        # user 3: a NULL-ts click is the ONLY candidate click — the
        # case where Spark's NULLS FIRST vs DuckDB's default NULLS
        # LAST window order flips the as-of attribution
        (8, None, 3, "click", 1.0, "{}"),
        (9, T(2024, 1, 1, 4, 0, 0), 3, "purchase", 2.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
    return d


def test_events_ops_match_oracles_on_null_rows(spark, hostile_events_dir):
    """NULL ts / user_id / event_type / value rows: window ordering
    (NULLS FIRST both engines) and NULL-gap session breaks must agree
    exactly — Spark defaults NULLS FIRST where DuckDB defaults NULLS
    LAST, and a bare NULL > threshold comparison silently reads as
    'same session' in SQL."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(hostile_events_dir, 'events.parquet', '*.parquet')}'"
    )
    for name in ("events_by_type", "events_user_sessions",
                 "events_asof_attribution"):
        df = qs[name](spark, hostile_events_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        res = con.execute(oracles[name])
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        assert sorted(cols) == sorted(ocols), name
        assert len(rows) == len(orows), name
        assert value_hash(rows, cols) == value_hash(orows, ocols), name




@pytest.fixture(scope="module")
def hostile_tpch_dir(spark, tmp_path_factory):
    """TPC-H-shaped tables salted with NULL keys, NULL measures, NULL
    group columns and an orphan foreign key — the degenerate rows that
    expose NULL-join/NOT-IN semantics differences between engines."""
    import datetime

    T = datetime.datetime
    d = str(tmp_path_factory.mktemp("hostiletpch"))
    orders = [
        (1, 10, "O", 100.0, T(1997, 1, 1), "1-URGENT"),
        (2, 11, "F", 200.0, T(1997, 2, 1), "2-HIGH"),
        (3, 10, "O", None, T(1997, 3, 1), None),        # NULL price
        (None, 12, "F", 50.0, None, "3-MEDIUM"),        # NULL orderkey
        (5, None, None, 75.0, T(1997, 5, 1), "4-LOW"),  # NULL cust+status
    ]
    lineitem = [
        (1, 100, 1, 1, 5.0, 1000.0, 0.1, 0.0, "A", "F", T(1997, 1, 2)),
        (1, 101, 1, 2, None, 500.0, 0.0, 0.0, "A", "F", T(1997, 1, 3)),
        (2, 100, 1, 1, 3.0, None, None, 0.0, "R", "O", None),
        # NULL l_orderkey: the row that poisons a NOT IN anti side
        (None, 102, 1, 1, 1.0, 10.0, 0.0, 0.0, None, None,
         T(1997, 2, 2)),
        (99, 103, 1, 1, 2.0, 20.0, 0.5, 0.0, "N", "O", T(1997, 3, 3)),
    ]
    customer = [(10, "alice", 1, 0.0, "SEG"), (11, "bob", None, 0.0, None),
                (12, None, 2, None, "SEG")]
    nation = [(1, "FRANCE", 0), (2, None, 0), (None, "NOKEY", 0)]
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).coalesce(1).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        lineitem, "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp"
    ).coalesce(1).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        customer, "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).coalesce(1).write.parquet(os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        nation, "n_nationkey int, n_name string, n_regionkey int"
    ).coalesce(1).write.parquet(os.path.join(d, "nation.parquet"))
    return d


def test_relational_ops_match_oracles_on_null_keys(spark, hostile_tpch_dir):
    """NULL join keys, NULL group keys and NULL measures through the
    relational shell: Spark's semi/anti joins are NULL-safe where
    SQL IN / NOT IN are NULL-poisoned — the oracle must use the
    correlated EXISTS form (this test caught orders_fulfillment's
    NOT IN emptying the anti side on one NULL l_orderkey row)."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(hostile_tpch_dir, t + '.parquet', '*.parquet')}'"
        )
    for name in ("orders_by_nation", "orders_fulfillment",
                 "pricing_summary", "top_parts_by_flag"):
        df = qs[name](spark, hostile_tpch_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        res = con.execute(oracles[name])
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        assert sorted(cols) == sorted(ocols), name
        assert len(rows) == len(orows), (name, len(rows), len(orows))
        assert value_hash(rows, cols) == value_hash(orows, ocols), name
