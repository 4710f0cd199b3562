"""Catch-all robustness sweep: every documents/embeddings-table op in
the registry must survive a corpus salted with degenerate rows
(empty text, NULL text, 1-token text, whitespace-only) — the class
of input that exposed the descending-sequence(1,0) crash and the
ANSI DIVIDE_BY_ZERO crash.  A single bad row must never kill a job.

Events/TPC-H relational queries are exercised elsewhere; this sweep
covers the corpus ops, which face arbitrary crawl text at 100 TB.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def hostile_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hostile"))
    base = (
        "the a of to in is it on for data spark table row value key part "
        "merge scan filter join hash batch stream window group order line"
    )
    docs = [
        # enough regular rows that stats/joins have real work to do
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
        (29, "alpha\fbeta\vgamma", "en", "src4", 16),  # \f \v whitespace
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    vecs = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)], i % 8)
            for i in range(37)]
    # degenerate vectors: NULL / empty / wrong dimension — a single
    # such row must never kill an embeddings op
    vecs += [(37, None, 1), (38, [], 2), (39, [1.0, 2.0], 3)]
    spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


#: ops whose fixture needs columns the hostile corpus can't satisfy,
#: or that synthesize per-format binary payloads (covered by the
#: dedicated hostile-row extraction tests in test_hostile_rows.py)
_SKIP_PREFIXES = ("extract_", "events_", "orders_", "top_parts",
                  "pricing_")
_SKIP_NAMES = {"stream_events_windowed"}  # needs the events table


def test_all_corpus_ops_survive_hostile_rows(spark, hostile_dir):
    import __spark_entry__ as entry
    from docwire_spark.ops.common import release_persisted

    qs = entry.queries()
    ran = []
    for name, fn in sorted(qs.items()):
        if name.startswith(_SKIP_PREFIXES) or name in _SKIP_NAMES:
            continue
        df = fn(spark, hostile_dir)
        # collect, NOT count: count() lets column pruning skip the
        # very expressions that crash (pagerank's 1/n divide-by-zero
        # hid behind exactly that for three rounds)
        n = len(df.collect())
        release_persisted()
        assert n >= 0
        ran.append(name)
    # the sweep must actually cover the corpus ops, not silently skip
    assert {"dedup_minhash_lsh", "dedup_chunk_exact",
            "text_fingerprint_repetition",
            "corpus_quality_filter", "bm25_search", "decontaminate",
            "similarity_ann_ivf", "sample_stratified",
            "source_salted_agg"} <= set(ran)
