"""PageRank over a corpus-derived co-occurrence graph.

The graph-analytics shape Spark runs at scale (link analysis over a
crawl, spam/host authority scoring): edges live in a DataFrame, one
iteration = join(scores, edges on src) -> groupBy(dst) -> sum, i.e.
a shuffle on src then dst.  Nothing is ever collected; the score
table stays distributed (contrast kmeans, where the CENTROIDS are the
small side).

Edges are derived deterministically from the corpus itself: 5-token
CHUNKS (same chunking as dedup_chunk_exact) with document frequency
in [2, RARE_DF_MAX] connect consecutive documents of their posting
list — a rare shared chunk is real evidence of relatedness (shared
template/boilerplate), while hot chunks would produce clique blowup,
so the df cap doubles as the skew guard (the same banding logic as
MinHash).  The posting walk gives df-1 edges per rare chunk, so the
edge count is linear in corpus size.

Cross-engine determinism: symmetric edges mean no dangling mass; all
arithmetic is double (decimal literals are CAST to double explicitly
— DuckDB parses bare ``0.15`` as DECIMAL, Spark as double, and the
two arithmetics differ); per-iteration scores pass through
``round(, 9)`` to absorb group-sum ordering ULPs, and the output is
rounded to 6.

ITERS fixed at 2 keeps the oracle a static SQL string; the builder
takes the iteration count as a parameter for real use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import TOKENS_SQL, load, with_tokens
from .dedup import CHUNK_K as _CHUNK_K

RARE_DF_MIN = 2
RARE_DF_MAX = 4
DAMPING = 0.85
ITERS = 2


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric, distinct (src, dst) pairs from rare-chunk postings."""
    from pyspark.sql import Window

    from .dedup import _CHUNKS_EXPR

    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    occ = (
        docs.select("doc_id", F.explode(F.expr(_CHUNKS_EXPR)).alias("chunk"))
        .distinct()
    )
    df = occ.groupBy("chunk").agg(F.count("*").alias("df"))
    rare = df.filter(
        (F.col("df") >= RARE_DF_MIN) & (F.col("df") <= RARE_DF_MAX)
    ).select("chunk")
    # rare-chunk posting groups are bounded by RARE_DF_MAX, so the
    # window sort state per group is tiny; the join's build side (the
    # rare-chunk list, slim) is left to AQE — never a forced broadcast
    w = Window.partitionBy("chunk").orderBy("doc_id")
    ordered = occ.join(rare, "chunk").withColumn(
        "nxt", F.lead("doc_id").over(w)
    )
    e1 = ordered.filter(F.col("nxt").isNotNull()).select(
        F.col("doc_id").alias("src"), F.col("nxt").alias("dst")
    )
    return e1.union(
        e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def pagerank(spark: SparkSession, sf_dir: str, iters: int = ITERS) -> DataFrame:
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n = nodes.count()  # one slim scalar to the driver, like any agg
    if n == 0:
        # degenerate corpus with no rare-chunk edges: the seed score
        # 1/n would divide by zero (ANSI) — the oracle's empty joins
        # return no rows, so an empty frame IS the right answer
        return spark.createDataFrame(
            [], "doc_id bigint, pagerank double, deg bigint"
        )
    scores = nodes.select(
        "node", (F.lit(1.0) / F.lit(float(n))).alias("score")
    )
    for _ in range(iters):
        contrib = (
            scores.join(nodes, "node")
            .join(edges.withColumnRenamed("src", "node"), "node")
            .select(
                F.col("dst").alias("node"),
                (F.col("score") / F.col("deg")).alias("c"),
            )
        )
        scores = contrib.groupBy("node").agg(
            F.round(
                F.lit(1.0 - DAMPING) / F.lit(float(n))
                + F.lit(DAMPING) * F.sum("c"),
                9,
            ).alias("score")
        )
    return (
        scores.join(nodes, "node")
        .select(
            F.col("node").alias("doc_id"),
            F.round("score", 6).alias("pagerank"),
            "deg",
        )
    )


PAGERANK_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), occ AS (
  SELECT DISTINCT doc_id,
         list_reduce(tokens[(i * {_CHUNK_K} + 1):(i * {_CHUNK_K} + {_CHUNK_K})],
                     (a, b) -> a || ' ' || b) AS chunk
  FROM t, unnest(range(CAST(floor(len(tokens) / {_CHUNK_K}) AS BIGINT)))
       AS u(i)
), dfq AS (
  SELECT chunk, count(*) AS df FROM occ GROUP BY chunk
), rare AS (
  SELECT chunk FROM dfq
  WHERE df BETWEEN {RARE_DF_MIN} AND {RARE_DF_MAX}
), ordered AS (
  SELECT occ.chunk, occ.doc_id,
         lead(occ.doc_id) OVER (PARTITION BY occ.chunk
                                ORDER BY occ.doc_id) AS nxt
  FROM occ JOIN rare USING (chunk)
), e1 AS (
  SELECT doc_id AS src, nxt AS dst FROM ordered WHERE nxt IS NOT NULL
), edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e1
    UNION ALL
    SELECT dst AS src, src AS dst FROM e1
  )
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY src
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
), s0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS score FROM deg, nn
), s1 AS (
  SELECT e.dst AS node,
         round(CAST({1.0 - DAMPING} AS DOUBLE) / any_value(nn.n)
               + CAST({DAMPING} AS DOUBLE)
                 * sum(s.score / d.deg), 9) AS score
  FROM s0 s
  JOIN deg d USING (node)
  JOIN edges e ON e.src = s.node
  CROSS JOIN nn
  GROUP BY e.dst
), s2 AS (
  SELECT e.dst AS node,
         round(CAST({1.0 - DAMPING} AS DOUBLE) / any_value(nn.n)
               + CAST({DAMPING} AS DOUBLE)
                 * sum(s.score / d.deg), 9) AS score
  FROM s1 s
  JOIN deg d USING (node)
  JOIN edges e ON e.src = s.node
  CROSS JOIN nn
  GROUP BY e.dst
)
SELECT s2.node AS doc_id,
       round(s2.score, 6) AS pagerank,
       deg.deg AS deg
FROM s2 JOIN deg USING (node)
"""


#: link-graph synthesis moduli (host count matches warc_ops; target
#: path space is a fixed residue ring so the oracle needs no corpus
#: count)
_LG_HOSTS = 13
_LG_PATHS = 997


def link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-to-host edge extraction from REAL HTML through the real
    kernel: anchors render as ``<url>`` spans (kind='link'), and the
    span offsets recover each outlink from the extracted text — the
    byte-identity gate extended to the link layer.  This is the table
    that feeds pagerank/host_stats at crawl scale (reference renders
    links the same way, src/plain_text_writer.cpp; SURVEY §2.5.1).

    Scale shape: extraction is the usual mapInArrow pass; outlink
    recovery is per-row array ops (filter + substring over the span
    extents, no regex over the full text); the only shuffle is the
    final groupBy on (src_host, dst_host) — a key space bounded by
    host-pair cardinality, with map-side partial aggregation."""
    from docwire_spark.spark.extract import extract_pages

    from .common import load

    docs = load(spark, sf_dir, "documents", parallelize=True)
    pages = docs.selectExpr(
        f"'https://crawl' || CAST(doc_id % {_LG_HOSTS} AS STRING)"
        " || '.example/p/' || CAST(doc_id AS STRING) AS url",
        "encode('<html><body>"
        f"<p><a href=\"https://crawl' || CAST((doc_id * 3 + 1) % {_LG_HOSTS}"
        f" AS STRING) || '.example/p/' || CAST((doc_id * 7 + 1) % {_LG_PATHS}"
        " AS STRING) || '\">a</a> x</p>"
        f"<p><a href=\"https://crawl' || CAST((doc_id * 5 + 2) % {_LG_HOSTS}"
        f" AS STRING) || '.example/p/' || CAST((doc_id * 11 + 5) % {_LG_PATHS}"
        " AS STRING) || '\">b</a> y</p>"
        "</body></html>', 'UTF-8') AS html",
    )
    res = extract_pages(pages)
    links = res.selectExpr(
        "regexp_extract(url, '^https?://([^/]+)', 1) AS src_host",
        "transform(filter(spans, p -> p.kind = 'link'),"
        " p -> substring(extracted_text, CAST(p.start + 1 AS INT),"
        "                CAST(p.end - p.start AS INT))) AS raws",
    ).selectExpr(
        "src_host", "explode(raws) AS raw"
    ).selectExpr(
        # strip the <> around the rendered url
        "src_host",
        "substring(raw, 2, length(raw) - 2) AS dst_url",
    )
    return links.selectExpr(
        "src_host",
        "regexp_extract(dst_url, '^https?://([^/]+)', 1) AS dst_host",
        "dst_url",
    ).groupBy("src_host", "dst_host").agg(
        F.count("*").cast("bigint").alias("n_links"),
        F.countDistinct("dst_url").cast("bigint").alias("n_distinct_targets"),
    )


LINK_GRAPH_SQL = f"""
WITH outlinks AS (
  SELECT 'crawl' || CAST(doc_id % {_LG_HOSTS} AS VARCHAR) || '.example'
           AS src_host,
         'https://crawl' || CAST((doc_id * 3 + 1) % {_LG_HOSTS} AS VARCHAR)
           || '.example/p/' || CAST((doc_id * 7 + 1) % {_LG_PATHS} AS VARCHAR)
           AS dst_url
  FROM documents
  UNION ALL
  SELECT 'crawl' || CAST(doc_id % {_LG_HOSTS} AS VARCHAR) || '.example',
         'https://crawl' || CAST((doc_id * 5 + 2) % {_LG_HOSTS} AS VARCHAR)
           || '.example/p/' || CAST((doc_id * 11 + 5) % {_LG_PATHS} AS VARCHAR)
  FROM documents
)
SELECT src_host,
       regexp_extract(dst_url, '^https?://([^/]+)', 1) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT dst_url) AS BIGINT) AS n_distinct_targets
FROM outlinks
GROUP BY src_host, dst_host
"""


#: anchor-label moduli (two label alphabets so targets accumulate
#: several distinct labels)
_AT_L1 = 23
_AT_L2 = 17


def anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation: for every link TARGET, the incoming
    anchor labels with counts and referring-host breadth — the classic
    web-corpus relevance/quality signal (what other pages call this
    page).  Labels are recovered from REAL extraction output: the
    kernel renders ``<a>`` as a ``<url>`` link span followed by the
    label's own text span (same rendering the reference uses,
    src/plain_text_writer.cpp), so the pairing below reads the span
    stream, not the raw HTML.

    Scale shape: span->(target,label) recovery is per-row array ops
    inside codegen (``transform`` with index + ``try_element_at``
    successor lookup — no posexplode self-join, no shuffle); the one
    shuffle is groupBy(dst_url, label) with map-side partial
    aggregation.  A mega-popular target (the skew case: everyone
    links to the homepage) still reduces to one row per distinct
    label, so reducer state is bounded by label diversity, not
    in-link count; n_hosts is the only expansion and stays capped by
    host cardinality."""
    from docwire_spark.spark.extract import extract_pages

    from .common import load

    docs = load(spark, sf_dir, "documents", parallelize=True)
    pages = docs.selectExpr(
        f"'https://crawl' || CAST(doc_id % {_LG_HOSTS} AS STRING)"
        " || '.example/p/' || CAST(doc_id AS STRING) AS url",
        "encode('<html><body>"
        f"<p><a href=\"https://crawl' || CAST((doc_id * 3 + 1) % {_LG_HOSTS}"
        f" AS STRING) || '.example/p/' || CAST((doc_id * 7 + 1) % {_LG_PATHS}"
        f" AS STRING) || '\">ref-' || CAST(doc_id % {_AT_L1} AS STRING)"
        " || '</a> x</p>"
        f"<p><a href=\"https://crawl' || CAST((doc_id * 5 + 2) % {_LG_HOSTS}"
        f" AS STRING) || '.example/p/' || CAST((doc_id * 11 + 5) % {_LG_PATHS}"
        f" AS STRING) || '\">lbl-' || CAST(doc_id % {_AT_L2} AS STRING)"
        " || '</a> y</p>"
        "</body></html>', 'UTF-8') AS html",
    )
    res = extract_pages(pages)
    pairs = res.selectExpr(
        "regexp_extract(url, '^https?://([^/]+)', 1) AS src_host",
        "extracted_text AS t",
        # pair each span with its successor, keep (link, contiguous
        # text) pairs: the text span starting exactly at the link
        # span's end IS the anchor label (kernel rendering invariant)
        "filter(transform(spans, (p, i) ->"
        "         struct(p AS cur, try_element_at(spans, i + 2) AS nxt)),"
        "       x -> x.cur.kind = 'link' AND x.nxt IS NOT NULL"
        "            AND x.nxt.kind = 'text'"
        "            AND x.nxt.start = x.cur.end) AS links",
    ).selectExpr(
        "src_host", "t", "explode(links) AS lk"
    ).selectExpr(
        "src_host",
        # strip the <> around the rendered target url
        "substring(t, CAST(lk.cur.start + 2 AS INT),"
        "          CAST(lk.cur.end - lk.cur.start - 2 AS INT)) AS dst_url",
        "substring(t, CAST(lk.nxt.start + 1 AS INT),"
        "          CAST(lk.nxt.end - lk.nxt.start AS INT)) AS label",
    )
    return pairs.groupBy("dst_url", "label").agg(
        F.count("*").cast("bigint").alias("n_anchors"),
        F.countDistinct("src_host").cast("bigint").alias("n_hosts"),
    )


ANCHOR_TEXT_SQL = f"""
WITH anchors AS (
  SELECT 'crawl' || CAST(doc_id % {_LG_HOSTS} AS VARCHAR) || '.example'
           AS src_host,
         'https://crawl' || CAST((doc_id * 3 + 1) % {_LG_HOSTS} AS VARCHAR)
           || '.example/p/' || CAST((doc_id * 7 + 1) % {_LG_PATHS} AS VARCHAR)
           AS dst_url,
         'ref-' || CAST(doc_id % {_AT_L1} AS VARCHAR) AS label
  FROM documents
  UNION ALL
  SELECT 'crawl' || CAST(doc_id % {_LG_HOSTS} AS VARCHAR) || '.example',
         'https://crawl' || CAST((doc_id * 5 + 2) % {_LG_HOSTS} AS VARCHAR)
           || '.example/p/' || CAST((doc_id * 11 + 5) % {_LG_PATHS} AS VARCHAR),
         'lbl-' || CAST(doc_id % {_AT_L2} AS VARCHAR)
  FROM documents
)
SELECT dst_url, label,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(count(DISTINCT src_host) AS BIGINT) AS n_hosts
FROM anchors
GROUP BY dst_url, label
"""


QUERIES = {"pagerank": pagerank, "link_graph": link_graph,
           "anchor_text": anchor_text}
ORACLES = {"pagerank": PAGERANK_SQL, "link_graph": LINK_GRAPH_SQL,
           "anchor_text": ANCHOR_TEXT_SQL}
