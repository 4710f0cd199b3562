"""Sliding-window token chunking — the embedding/RAG preparation
step between extraction and vectorization.

Embedding models take bounded inputs, so every retrieval/indexing
pipeline explodes each document into fixed-size token windows with
overlap (the overlap preserves cross-boundary context: a sentence
split at a hard boundary is retrievable from neither side).  Shape:
document -> N = ceil((n_tok - OVERLAP) / STRIDE) rows of
(doc_id, chunk_id, tok_start, tok_end, chunk_text).

Pure Catalyst: ``sequence`` enumerates window starts, ``slice`` +
``array_join`` materialize each window from the one tokenization —
a map-side explode with no shuffle, so chunking pipelines into
whatever scan feeds the embedding UDF downstream.  Short documents
(n_tok <= WINDOW) yield exactly one chunk; empty/NULL text yields
zero rows (nothing to embed), both asserted in tests and replayed by
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import TOKENS_EXPR, load

WINDOW = 64   # tokens per chunk (model context budget)
STRIDE = 48   # tokens between window starts (OVERLAP = WINDOW-STRIDE)


def chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{TOKENS_EXPR} AS ts",
    )
    return docs.selectExpr(
        "doc_id",
        "size(ts) AS n_tok",
        "ts",
    ).selectExpr(
        "doc_id",
        # window starts: 1, 1+STRIDE, ... while start <= n_tok (at
        # least one window for any non-empty doc, none for empty)
        f"explode(CASE WHEN n_tok = 0 THEN array()"
        f" ELSE sequence(1, greatest(n_tok - {WINDOW - STRIDE}, 1),"
        f" {STRIDE}) END) AS tok_start",
        "n_tok",
        "ts",
    ).selectExpr(
        "doc_id",
        f"CAST((tok_start - 1) DIV {STRIDE} AS BIGINT) AS chunk_id",
        "CAST(tok_start AS BIGINT) AS tok_start",
        f"CAST(least(tok_start + {WINDOW} - 1, n_tok) AS BIGINT)"
        " AS tok_end",
        f"array_join(slice(ts, tok_start, {WINDOW}), ' ') AS chunk_text",
    )


CHUNK_WINDOWS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS ts
  FROM documents
),
s AS (
  SELECT doc_id, ts, len(ts) AS n_tok,
         unnest(CASE WHEN len(ts) = 0 THEN []
                ELSE generate_series(1,
                       greatest(len(ts) - {WINDOW - STRIDE}, 1),
                       {STRIDE}) END) AS tok_start
  FROM t
)
SELECT doc_id,
       CAST((tok_start - 1) // {STRIDE} AS BIGINT) AS chunk_id,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(least(tok_start + {WINDOW} - 1, n_tok) AS BIGINT) AS tok_end,
       array_to_string(ts[tok_start: tok_start + {WINDOW} - 1], ' ')
         AS chunk_text
FROM s
"""


QUERIES = {"chunk_windows": chunk_windows}
ORACLES = {"chunk_windows": CHUNK_WINDOWS_SQL}
