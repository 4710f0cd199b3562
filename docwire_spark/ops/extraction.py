"""End-to-end extraction queries with SQL oracles.

Each query synthesizes the north-rule pages table
``(url, html BINARY, ...)`` from ``documents.text`` with a known HTML
template, runs the REAL distributed pipeline
(``extract.extract_pages``: scan splits + url-hash bucket column ->
mapInArrow kernel), and the DuckDB oracle reconstructs the expected
extracted bytes analytically from the template + the reference's
rendering rules (SURVEY.md §2.5.1) — so the driver's hash compare is a
byte-identity gate on the whole Spark extraction path:

- ``extract_plain``  <p>text</p>             -> collapsed text + "\\n\\n"
- ``extract_rich``   link + ordered list      -> "<url>..." + "N. item"
- ``extract_table``  2x2 table                -> padded grid render

``documents.text`` is pure ``[a-z0-9 .,]`` ASCII (verified), so no
HTML-escaping or charset ambiguity enters the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from docwire_spark.ops.common import TOKENS_EXPR, TOKENS_SQL, load
from docwire_spark.spark.extract import extract_pages

_URL_PREFIX = "https://synth.local/d/"


def _run_kernel(pages: DataFrame, extra_cols=()) -> DataFrame:
    res = extract_pages(pages)
    return res.select(
        F.element_at(F.split("url", "/"), -1).cast("bigint").alias("doc_id"),
        *extra_cols,
        "extracted_text",
    )


def extract_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True)
    pages = docs.select(
        F.concat(F.lit(_URL_PREFIX), F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>d</title></head><body><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    return _run_kernel(pages, extra_cols=["mime"])


EXTRACT_PLAIN_SQL = """
SELECT doc_id, 'text/html' AS mime,
       trim(regexp_replace(text, ' +', ' ', 'g')) || chr(10) || chr(10)
         AS extracted_text
FROM documents
"""


def extract_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True).withColumn(
        "tokens", F.expr(TOKENS_EXPR)
    )
    docs = docs.filter(F.size("tokens") >= 2)
    did = F.col("doc_id").cast("string")
    t1 = F.expr("element_at(tokens, 1)")
    t2 = F.expr("element_at(tokens, 2)")
    pages = docs.select(
        F.concat(F.lit(_URL_PREFIX), did).alias("url"),
        F.encode(
            F.concat(
                F.lit('<html><body><p><a href="https://ex.com/'),
                did,
                F.lit('">ref '),
                did,
                F.lit("</a> intro</p><ol><li>"),
                t1,
                F.lit("</li><li>"),
                t2,
                F.lit("</li></ol></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    return _run_kernel(pages)


EXTRACT_RICH_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
)
SELECT doc_id,
       '<https://ex.com/' || doc_id || '>ref ' || doc_id || ' intro'
         || chr(10) || chr(10)
         || '1. ' || tokens[1] || chr(10)
         || '2. ' || tokens[2] || chr(10) || chr(10) AS extracted_text
FROM t
WHERE len(tokens) >= 2
"""


def extract_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True).withColumn(
        "tokens", F.expr(TOKENS_EXPR)
    )
    docs = docs.filter(F.size("tokens") >= 4)
    cells = [F.expr(f"element_at(tokens, {i})") for i in (1, 2, 3, 4)]
    pages = docs.select(
        F.concat(
            F.lit(_URL_PREFIX), F.col("doc_id").cast("string")
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><table><tr><td>"),
                cells[0],
                F.lit("</td><td>"),
                cells[1],
                F.lit("</td></tr><tr><td>"),
                cells[2],
                F.lit("</td><td>"),
                cells[3],
                F.lit("</td></tr></table></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    return _run_kernel(pages)


# grid render (plain_text_writer.cpp:442-607): global column width =
# max cell width (cap 1000); each cell right-padded to width, +2-space
# gutter except after the last column; one line per row; close_document
# adds the final newline
EXTRACT_TABLE_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
),
c AS (
  SELECT doc_id,
         tokens[1] AS t1, tokens[2] AS t2, tokens[3] AS t3, tokens[4] AS t4,
         CAST(greatest(length(tokens[1]), length(tokens[2]),
                       length(tokens[3]), length(tokens[4])) AS INTEGER) AS w
  FROM t WHERE len(tokens) >= 4
)
SELECT doc_id,
       rpad(t1, w + 2, ' ') || rpad(t2, w, ' ') || chr(10)
         || rpad(t3, w + 2, ' ') || rpad(t4, w, ' ') || chr(10) || chr(10)
         AS extracted_text
FROM c
"""

_NAV = (
    '<div><a href="https://s.local/">Home</a> '
    '<a href="https://s.local/a">About</a> '
    '<a href="https://s.local/c">Contact</a></div>'
)
_FOOTER = (
    '<div><a href="https://s.local/p">Privacy</a> '
    '<a href="https://s.local/t">Terms</a></div>'
)
# identical collapsed-word-count predicate in both engines: the
# NumWordsRulesClassifier marks a >40-word block after a link-dense
# prev as content unconditionally, so gating on >40 makes the oracle
# analytic (nav/footer are 100% link-density -> always boilerplate)
_WC_SPARK = "size(split(trim(regexp_replace(text, ' +', ' ')), ' ')) > 40"
_WC_SQL = (
    "len(string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ')) > 40"
)


def extract_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip stage (kernel/boilerplate.py, WSDM'10 tree):
    nav/footer link chrome around the article must vanish from
    ``main_content`` while ``extracted_text`` keeps full parity."""
    docs = load(spark, sf_dir, "documents", parallelize=True).filter(F.expr(_WC_SPARK))
    pages = docs.select(
        F.concat(F.lit(_URL_PREFIX), F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>d</title></head><body>" + _NAV + "<p>"),
                F.col("text"),
                F.lit("</p>" + _FOOTER + "</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    res = extract_pages(pages, with_main_content=True)
    return res.select(
        F.element_at(F.split("url", "/"), -1).cast("bigint").alias("doc_id"),
        "main_content",
    )


EXTRACT_MAIN_CONTENT_SQL = f"""
SELECT doc_id,
       trim(regexp_replace(text, ' +', ' ', 'g')) AS main_content
FROM documents
WHERE {_WC_SQL}
"""

def extract_html_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML exporter (kernel/html_writer.py, reference html_writer.cpp
    byte rules verified against tests/1..3.html.out.html goldens)."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    pages = docs.select(
        F.concat(F.lit(_URL_PREFIX), F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit('<html><head><meta name="author" content="au'),
                F.col("doc_id").cast("string"),
                F.lit('"></head><body><p>'),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    res = extract_pages(pages, exports=("html", "meta_text"))
    return res.select(
        F.element_at(F.split("url", "/"), -1).cast("bigint").alias("doc_id"),
        "extracted_html",
        "meta_text",
    )


# documents.text is pure [a-z0-9 .,] ASCII -> no entity escaping in the
# oracle; header/footer bytes from html_writer.cpp:158-183
EXTRACT_HTML_EXPORT_SQL = """
SELECT doc_id,
       '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>'
         || chr(10) || '<meta charset="utf-8">' || chr(10)
         || '<title>DocWire</title>' || chr(10)
         || '<meta name="author" content="au' || doc_id || '">' || chr(10)
         || '</head>' || chr(10) || '<body>' || chr(10)
         || '<p>' || trim(regexp_replace(text, ' +', ' ', 'g')) || '</p>'
         || '</body>' || chr(10) || '</html>' || chr(10) AS extracted_html,
       'Author: au' || doc_id || chr(10)
         || 'Creation time: unidentified' || chr(10)
         || 'Last modified by: unidentified' || chr(10)
         || 'Last modification time: unidentified' || chr(10)
         || 'Page count: unidentified' || chr(10)
         || 'Word count: unidentified' || chr(10) AS meta_text
FROM documents
"""


def extract_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV exporter (kernel/csv_writer.py: tables only, CRLF rows, no
    quoting — reference csv_writer.cpp:18-45)."""
    docs = load(spark, sf_dir, "documents", parallelize=True).withColumn(
        "tokens", F.expr(TOKENS_EXPR)
    )
    docs = docs.filter(F.size("tokens") >= 4)
    cells = [F.expr(f"element_at(tokens, {i})") for i in (1, 2, 3, 4)]
    pages = docs.select(
        F.concat(
            F.lit(_URL_PREFIX), F.col("doc_id").cast("string")
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><table><tr><td>"),
                cells[0],
                F.lit("</td><td>"),
                cells[1],
                F.lit("</td></tr><tr><td>"),
                cells[2],
                F.lit("</td><td>"),
                cells[3],
                F.lit("</td></tr></table></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    res = extract_pages(pages, exports=("csv",))
    return res.select(
        F.element_at(F.split("url", "/"), -1).cast("bigint").alias("doc_id"),
        "table_csv",
    )


EXTRACT_CSV_EXPORT_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
)
SELECT doc_id,
       tokens[1] || ',' || tokens[2] || chr(13) || chr(10)
         || tokens[3] || ',' || tokens[4] || chr(13) || chr(10)
         AS table_csv
FROM t WHERE len(tokens) >= 4
"""

def format_dispatch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format corpus through the ONE pipeline: rows synthesized
    as HTML, plain text, or XML by doc_id residue; the detector
    cascade must route each to the right parser (SURVEY.md §2.2
    dispatch rule), counted per mime with total extracted chars.
    Unordered aggregate — extract_format_dispatch adds the
    presentation sort; extract_dispatch unions this directly so the
    union does not pay two discarded global sorts."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    did = F.col("doc_id").cast("string")
    body = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.col("text"),
    ).otherwise(
        F.concat(
            F.lit('<?xml version="1.0"?><root><item>'),
            F.col("text"),
            F.lit("</item></root>"),
        )
    )
    ext = F.when(F.col("doc_id") % 3 == 0, F.lit("html")).when(
        F.col("doc_id") % 3 == 1, F.lit("txt")
    ).otherwise(F.lit("xml"))
    pages = docs.select(
        F.concat(F.lit(_URL_PREFIX), did, F.lit("."), ext).alias("url"),
        F.encode(body, "UTF-8").alias("html"),
    )
    res = extract_pages(pages)
    return res.groupBy("mime").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("extracted_text")).alias("total_chars"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "n_failed"
        ),
    )


def extract_format_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return format_dispatch_agg(spark, sf_dir).orderBy("mime")


extract_format_dispatch.__doc__ = format_dispatch_agg.__doc__


# expected chars per branch reconstructed analytically:
# html -> trim(collapse(text)) + "\n\n" (close_paragraph +
# close_document); txt -> text verbatim + "\n\n" (paragraph mode +
# close_document); xml -> trim(collapse) + "\n" (close_document only)
EXTRACT_FORMAT_DISPATCH_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN 'text/html'
           WHEN 1 THEN 'text/plain'
           ELSE 'application/xml' END AS mime,
         CASE doc_id % 3
           WHEN 0 THEN length(trim(regexp_replace(text, ' +', ' ', 'g'))) + 2
           WHEN 1 THEN length(text) + 2
           ELSE length(trim(regexp_replace(text, ' +', ' ', 'g'))) + 1
         END AS n_chars
  FROM documents
)
SELECT mime, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(0 AS BIGINT) AS n_failed
FROM m GROUP BY mime ORDER BY mime
"""

def extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-span offsets (north-star deliverable): the link+text
    template yields exactly two spans per document — the ``<url>``
    link render at [0, len(url)+2) and the text at [link_end,
    link_end+len(text)) — reconstructed analytically in the oracle."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    did = F.col("doc_id").cast("string")
    pages = docs.select(
        F.concat(F.lit(_URL_PREFIX), did).alias("url"),
        F.encode(
            F.concat(
                F.lit('<html><body><p><a href="https://ex.com/'),
                did,
                F.lit('">anchor</a> '),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    res = extract_pages(pages)
    return (
        res.select(
            F.element_at(F.split("url", "/"), -1).cast("bigint").alias("doc_id"),
            F.posexplode("spans").alias("span_idx", "span"),
        )
        .select(
            "doc_id", "span_idx",
            F.col("span.start").alias("span_start"),
            F.col("span.end").alias("span_end"),
            F.col("span.kind").alias("kind"),
        )
    )


# three spans: link render '<https://ex.com/<id>>' (17+len(id)+1);
# 'anchor' flushed at </a> (buffer flushes at every tag); then
# ' ' + collapsed doc text right-trimmed at the block end
EXTRACT_SPANS_SQL = """
WITH base AS (
  SELECT doc_id,
         17 + length(CAST(doc_id AS VARCHAR)) AS link_len,
         1 + length(trim(regexp_replace(text, ' +', ' ', 'g'))) AS tail_len
  FROM documents
)
SELECT doc_id, 0 AS span_idx, 0 AS span_start, link_len AS span_end,
       'link' AS kind FROM base
UNION ALL
SELECT doc_id, 1, link_len, link_len + 6, 'text' FROM base
UNION ALL
SELECT doc_id, 2, link_len + 6, link_len + 6 + tail_len, 'text' FROM base
"""

# ---------------------------------------------------------------------------
# consolidated variants (round 4): the driver's correctness window is
# finite, so rich+table (both "HTML template -> one rendered text
# column") merge into one unioned query and the two exporters merge
# into one joined query.  The per-template queries stay registered —
# and are what bench.py times — but sit after the priority window.
# ---------------------------------------------------------------------------


def extract_rich_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link/list render ∪ table-grid render through the distributed
    path, tagged by template — one driver row covering both
    plain-text-writer code paths (SURVEY §2.5.1)."""
    r = extract_rich(spark, sf_dir).select(
        F.lit("rich").alias("template"), "doc_id", "extracted_text"
    )
    t = extract_table(spark, sf_dir).select(
        F.lit("table").alias("template"), "doc_id", "extracted_text"
    )
    return r.unionByName(t)


EXTRACT_RICH_TABLE_SQL = f"""
SELECT 'rich' AS template, * FROM ({EXTRACT_RICH_SQL})
UNION ALL
SELECT 'table' AS template, * FROM ({EXTRACT_TABLE_SQL})
"""


def extract_exports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML + metadata exporters joined with the CSV exporter — one
    driver row covering all three non-plain writers.  table_csv is
    NULL for documents whose text yields fewer than 4 tokens (the csv
    fixture needs a 2x2 grid)."""
    h = extract_html_export(spark, sf_dir)
    c = extract_csv_export(spark, sf_dir)
    return h.join(c, "doc_id", "left")


EXTRACT_EXPORTS_SQL = f"""
SELECT h.doc_id, h.extracted_html, h.meta_text, c.table_csv
FROM ({EXTRACT_HTML_EXPORT_SQL}) h
LEFT JOIN ({EXTRACT_CSV_EXPORT_SQL}) c USING (doc_id)
"""


QUERIES = {
    "extract_spans": extract_spans,
    "extract_plain": extract_plain,
    "extract_main_content": extract_main_content,
    "extract_rich_table": extract_rich_table,
    "extract_exports": extract_exports,
    "extract_format_dispatch": extract_format_dispatch,
    "extract_rich": extract_rich,
    "extract_table": extract_table,
    "extract_html_export": extract_html_export,
    "extract_csv_export": extract_csv_export,
}

ORACLES = {
    "extract_spans": EXTRACT_SPANS_SQL,
    "extract_plain": EXTRACT_PLAIN_SQL,
    "extract_main_content": EXTRACT_MAIN_CONTENT_SQL,
    "extract_rich_table": EXTRACT_RICH_TABLE_SQL,
    "extract_exports": EXTRACT_EXPORTS_SQL,
    "extract_format_dispatch": EXTRACT_FORMAT_DISPATCH_SQL,
    "extract_rich": EXTRACT_RICH_SQL,
    "extract_table": EXTRACT_TABLE_SQL,
    "extract_html_export": EXTRACT_HTML_EXPORT_SQL,
    "extract_csv_export": EXTRACT_CSV_EXPORT_SQL,
}
