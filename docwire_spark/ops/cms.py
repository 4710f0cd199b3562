"""Count-min sketch — bounded-memory frequency estimation.

The third member of the sketch family (Bloom: membership, HLL:
cardinality, CMS: per-item frequency).  "How often does each n-gram
occur across the corpus?" needs a counter per DISTINCT n-gram if
answered exactly — O(vocabulary) state, which for web-scale n-grams
is itself corpus-sized.  The CMS (Cormode & Muthukrishnan 2005) keeps
a fixed d x w counter grid: each item increments one counter per row
(hash_j(item) for row j), a point query reads the MIN over its d
counters.  Estimates NEVER undercount, and overcount by at most
eps*N (eps = e/w) with probability 1-delta (delta = e^-d) — the
guarantees the tests assert literally.

Spark shape: explode n-grams -> (row, col) pairs -> groupBy-sum.
Partial aggregation compresses every partition to <= d*w rows
map-side, so the shuffle is bounded by the grid size — 4 x 1024 here
— no matter how many n-grams stream through, and grids from disjoint
corpus shards MERGE by cell-wise addition (same property that makes
HLL registers foldable).  Hashes are the same md5-slice fold the
Bloom op uses, identical in Spark SQL and DuckDB, so the oracle
replays the exact grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bloom import hash_expr
from .common import BIGRAMS_OF_TS, TOKENS_EXPR, TOKENS_SQL, bigrams_sql, load

CMS_D = 4     # rows (delta = e^-4 ~ 1.8%)
CMS_W = 1024  # counters per row (eps = e/1024 ~ 0.27% of N)


def cms_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d x w counter grid over corpus token bigrams — at most
    4096 rows at ANY corpus size (absent cells are zero)."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.selectExpr(f"{TOKENS_EXPR} AS ts").selectExpr(
        f"explode({BIGRAMS_OF_TS}) AS gram"
    )
    # ONE pass: a union of d selects over grams would re-run the
    # scan + tokenize + explode d times; instead hash the digest once
    # and explode the d (row, col) pairs from a single projection
    structs = ", ".join(
        f"struct(CAST({j} AS BIGINT) AS row,"
        f" CAST({hash_expr('h', j, CMS_W, of_hex=True)} AS BIGINT) AS col)"
        for j in range(CMS_D)
    )
    cells = (
        grams.selectExpr("md5(gram) AS h")
        .selectExpr(f"explode(array({structs})) AS rc")
        .select("rc.row", "rc.col")
    )
    return (
        cells.groupBy("row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def _grid_sql() -> str:
    per_row = "\nUNION ALL\n".join(
        f"SELECT CAST({j} AS BIGINT) AS row,"
        f" CAST({hash_expr('gram', j, CMS_W)} AS BIGINT) AS col"
        " FROM grams"
        for j in range(CMS_D)
    )
    return f"""
WITH t AS (
  SELECT {TOKENS_SQL} AS ts FROM documents
),
grams AS (
  SELECT unnest({bigrams_sql("ts")}) AS gram
  FROM t
),
cells AS (
{per_row}
)
SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY row, col
"""


CMS_GRID_SQL = _grid_sql()


def cms_query(grid: dict[tuple[int, int], int], item: str) -> int:
    """Driver-side point query: min over the item's d counters."""
    import hashlib

    est = None
    md5 = hashlib.md5(item.encode()).hexdigest()
    for j in range(CMS_D):
        col = int(md5[j * 8: j * 8 + 8], 16) % CMS_W
        c = grid.get((j, col), 0)
        est = c if est is None else min(est, c)
    return est or 0


QUERIES = {"cms_grid": cms_grid}
ORACLES = {"cms_grid": CMS_GRID_SQL}
