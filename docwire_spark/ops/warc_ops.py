"""WARC/WET container queries: export -> re-ingest roundtrips + CDX.

The Common-Crawl "first mile": the corpus arrives as ``.warc.gz``
segment files, not parquet.  These queries exercise the distributed
container layer (spark/warc_io.py) end to end:

- ``warc_roundtrip``: pages synthesized from ``documents`` ->
  ``write_warc`` (one gzip member per record, deterministic bytes) ->
  ``read_warc`` (path-parallel streaming scan) -> per-url facts.  The
  DuckDB oracle reconstructs the same facts analytically from the
  template, so any corruption anywhere in serialize/gzip/parse/split
  flips the value hash.
- ``wet_roundtrip``: same for WET ``conversion`` records (extracted
  text), plus the text itself surviving byte-exactly.
- ``warc_cdx``: a CDX-style capture index (SURT key + ts14) computed
  from the re-ingested records in pure codegen string ops — the index
  a wayback-style reader or a crawl-frontier dedup consumes.  Member
  (offset, length) record-addressability is asserted in
  tests/test_warc.py (random access + gunzip one member); the oracle
  covers the SQL-derivable columns.

Scale notes: export hash-partitions by url into N files (N ~ corpus /
1 GiB at real scale); ingest parallelism is the file listing (10^5
files per crawl), each task streaming its file with memory bounded by
one record.  No shuffle anywhere except the export's explicit
repartition — the ingest is scan -> narrow ops only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import load, scratch_dir

#: shared page synthesis (Spark SQL / DuckDB spelling via {s} cast)
_URL = "'https://crawl' || CAST(doc_id % 13 AS {s}) || '.example/p/' || CAST(doc_id AS {s})"
_HTML = (
    "'<html><head><title>t' || CAST(doc_id AS {s})"
    " || '</title></head><body><p>' || COALESCE(text, '')"
    " || '</p></body></html>'"
)
_URL_SPARK, _URL_DUCK = _URL.format(s="STRING"), _URL.format(s="VARCHAR")
_HTML_SPARK, _HTML_DUCK = _HTML.format(s="STRING"), _HTML.format(s="VARCHAR")
_TS_SPARK = (
    "timestampadd(SECOND, CAST(doc_id % 86400 AS INT),"
    " TIMESTAMP '2025-01-01 00:00:00')"
)
_TS_DUCK = (
    "TIMESTAMP '2025-01-01 00:00:00'"
    " + (doc_id % 86400) * INTERVAL 1 SECOND"
)


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True)
    return docs.selectExpr(
        f"{_URL_SPARK} AS url",
        f"{_TS_SPARK} AS warc_ts",
        f"encode({_HTML_SPARK}, 'UTF-8') AS html",
        "text",
    )


def _export_and_read(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    from docwire_spark.spark.warc_io import (
        read_warc, write_warc, write_wet,
    )

    out = scratch_dir(f"{kind}_export_")
    pages = _pages(spark, sf_dir)
    writer = write_warc if kind == "warc" else write_wet
    manifest = writer(pages, out, n_files=8)
    n_files = manifest.count()  # materialize the export
    assert n_files >= 1
    return read_warc(spark, out)


def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = _export_and_read(spark, sf_dir, "warc")
    return recs.filter("warc_type = 'response'").selectExpr(
        "url",
        "http_status",
        "mime",
        "date_format(warc_ts, 'yyyy-MM-dd HH:mm:ss') AS ts_str",
        "CAST(length(payload) AS BIGINT) AS n_bytes",
        "md5(payload) AS payload_md5",
    )


WARC_ROUNDTRIP_SQL = f"""
SELECT {_URL_DUCK} AS url,
       200 AS http_status,
       'text/html' AS mime,
       strftime({_TS_DUCK}, '%Y-%m-%d %H:%M:%S') AS ts_str,
       CAST(strlen({_HTML_DUCK}) AS BIGINT) AS n_bytes,
       md5({_HTML_DUCK}) AS payload_md5
FROM documents
"""


def wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = _export_and_read(spark, sf_dir, "wet")
    return recs.filter("warc_type = 'conversion'").selectExpr(
        "url",
        "mime",
        "decode(payload, 'UTF-8') AS text",
        "md5(payload) AS text_md5",
    )


WET_ROUNDTRIP_SQL = f"""
SELECT {_URL_DUCK} AS url,
       'text/plain' AS mime,
       COALESCE(text, '') AS text,
       md5(COALESCE(text, '')) AS text_md5
FROM documents
"""
# COALESCE: a WET conversion record carries bytes — absent text
# serializes as an EMPTY payload (warc_io's documented NULL-tolerant
# writer), so the oracle models NULL -> '' the same way.


def warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index over the re-ingested records.  SURT key +
    14-digit timestamp are pure codegen string ops; offsets/lengths
    ride along from the reader (member extents) and their invariants
    are test-gated — here they collapse into per-file aggregates the
    oracle can't see, so the emitted columns stay SQL-derivable."""
    recs = _export_and_read(spark, sf_dir, "warc")
    return recs.filter("warc_type = 'response'").selectExpr(
        "array_join(reverse(split(regexp_extract(url,"
        " '^https?://([^/]+)', 1), '[.]')), ',')"
        " || ')' || regexp_extract(url, '^https?://[^/]+([^#?]*)', 1)"
        " AS surt",
        "date_format(warc_ts, 'yyyyMMddHHmmss') AS ts14",
        "url",
        "md5(payload) AS payload_md5",
    )


WARC_CDX_SQL = f"""
WITH pages AS (
  SELECT {_URL_DUCK} AS url, {_TS_DUCK} AS ts, {_HTML_DUCK} AS html
  FROM documents
)
SELECT array_to_string(
         list_reverse(string_split(regexp_extract(url,
           '^https?://([^/]+)', 1), '.')), ',')
         || ')' || regexp_extract(url, '^https?://[^/]+([^#?]*)', 1)
         AS surt,
       strftime(ts, '%Y%m%d%H%M%S') AS ts14,
       url,
       md5(html) AS payload_md5
FROM pages
"""


def warc_extract_wet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Common-Crawl job in one DAG: .warc.gz segment in ->
    format sniff + HTML5 DOM + whitespace machine (the real
    mapInArrow kernel) -> .wet.gz conversion records out -> re-read.
    The oracle reconstructs the expected extracted bytes analytically
    from the template (reference rendering rules, SURVEY §2.5.1), so
    this is a byte-identity gate over ingest, extraction AND export.

    Scale shape: three narrow mapIn* passes chained scan->scan with no
    corpus shuffle at all — warc_ts for the WET records is re-derived
    from the url (carried columns, not a corpus self-join)."""
    from docwire_spark.spark.extract import extract_pages
    from docwire_spark.spark.warc_io import read_warc, write_wet, write_warc

    docs = load(spark, sf_dir, "documents", parallelize=True)
    pages = docs.selectExpr(
        f"{_URL_SPARK} AS url",
        f"{_TS_SPARK} AS warc_ts",
        "encode('<html><head><title>d</title></head><body><p>'"
        " || COALESCE(text, '')"
        " || '</p></body></html>', 'UTF-8') AS html",
    )
    warc_dir = scratch_dir("warc_in_")
    wet_dir = scratch_dir("wet_out_")
    assert write_warc(pages, warc_dir, n_files=8).count() >= 1

    ingested = read_warc(spark, warc_dir).filter(
        "warc_type = 'response'"
    ).selectExpr("url", "payload AS html")
    extracted = extract_pages(ingested).selectExpr(
        "url",
        # ts re-derived from the url's trailing doc_id (shuffle-free)
        "timestampadd(SECOND,"
        " CAST(element_at(split(url, '/'), -1) AS INT) % 86400,"
        " TIMESTAMP '2025-01-01 00:00:00') AS warc_ts",
        "extracted_text AS text",
    )
    assert write_wet(extracted, wet_dir, n_files=8).count() >= 1

    return read_warc(spark, wet_dir).filter(
        "warc_type = 'conversion'"
    ).selectExpr(
        "url", "decode(payload, 'UTF-8') AS extracted_text"
    )


WARC_EXTRACT_WET_SQL = f"""
SELECT {_URL_DUCK} AS url,
       trim(regexp_replace(COALESCE(text, ''), '[ \t\n\r\f\v]+', ' ', 'g'))
         || chr(10) || chr(10) AS extracted_text
FROM documents
"""
# COALESCE + whitespace-CLASS collapse: NULL text enters the template
# as an empty <p> and the kernel's whitespace machine renders an
# empty paragraph as just the paragraph break — which is exactly
# trim(collapse('')) || '\n\n'.  The collapse class matches the
# kernel's ASCII whitespace run (space/tab/newline/CR/formfeed/
# vertical-tab — html_extract._ASCII_WS_RUN), so whitespace-only
# and control-whitespace text reconstruct identically too.


QUERIES = {
    "warc_roundtrip": warc_roundtrip,
    "wet_roundtrip": wet_roundtrip,
    "warc_cdx": warc_cdx,
    "warc_extract_wet": warc_extract_wet,
}

ORACLES = {
    "warc_roundtrip": WARC_ROUNDTRIP_SQL,
    "wet_roundtrip": WET_ROUNDTRIP_SQL,
    "warc_cdx": WARC_CDX_SQL,
    "warc_extract_wet": WARC_EXTRACT_WET_SQL,
}
