"""Structured Streaming queries under the driver's oracle gate.

Each query writes a frame to a parquet drop directory, streams it back
through a file-source ``readStream`` into a streaming transformation,
and drains that into a memory sink with ``availableNow``
(``_drain``); the sink table is the query result.

- ``extract_stream_plain``: the batch extraction transformation itself
  (``spark.extract.extract_pages``).  The DuckDB oracle is the same
  analytic reconstruction the batch ``extract_plain`` query uses —
  proving the streaming mode is byte-identical to batch (the
  north-star property that downstream consumers cannot tell which
  mode produced a row).
- ``stream_dedup_native``: first-seen dedup on the native state store
  (``streaming.dedup_stream``) over one-file micro-batches.
- ``stream_events_windowed``: a watermarked tumbling-window
  aggregation.
- ``stream_corpus_clean``: extraction composed with the map-side
  cleaning ops in one stream.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from docwire_spark.ops.common import TOKENS_EXPR, load, ntz_epoch_us

_SINK_IDS = itertools.count()


def _drain(spark: SparkSession, drop: DataFrame, schema: str, transform,
           max_files_per_trigger: int | None = None) -> DataFrame:
    """Write ``drop`` to a parquet drop directory, read it back as a
    stream of ``schema``, and drain ``transform(stream)`` into a
    memory sink with ``availableNow``; returns the sink table.

    The drop and checkpoint directories are removed once
    ``awaitTermination`` returns (availableNow has fully drained the
    source by then), so repeated sweeps don't accumulate corpus-sized
    parquet copies in the temp dir."""
    drop_dir = tempfile.mkdtemp(prefix="stream_src_")
    chk_dir = tempfile.mkdtemp(prefix="stream_chk_")
    sink = f"stream_sink_{next(_SINK_IDS)}_{os.getpid()}"
    try:
        drop.write.mode("overwrite").parquet(drop_dir)
        reader = spark.readStream.schema(schema).format("parquet")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        q = (
            transform(reader.load(drop_dir)).writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", os.path.join(chk_dir, "chk"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for d in (drop_dir, chk_dir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.table(sink)


def _html_pages(docs: DataFrame, *extra) -> DataFrame:
    """(url, html, *extra) pages wrapping each document's text in one
    ``<p>``: url ``https://synth.local/d/<doc_id>``; NULL text -> empty
    paragraph, not a NULL html row (same contract as the WARC/WET
    synthesis templates)."""
    return docs.select(
        F.concat(F.lit("https://synth.local/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>d</title></head><body><p>"),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        *extra,
    )


def _doc_id() -> "F.Column":
    """doc_id back from a ``_html_pages`` url."""
    return F.element_at(F.split("url", "/"), -1).cast("bigint").alias("doc_id")


def extract_stream_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docwire_spark.spark.extract import extract_pages

    pages = _html_pages(
        load(spark, sf_dir, "documents"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )
    out = _drain(spark, pages, "url string, html binary,"
                 " warc_ts timestamp, text string, lang string",
                 extract_pages)
    return out.select(_doc_id(), "mime", "extracted_text")


EXTRACT_STREAM_PLAIN_SQL = """
SELECT doc_id, 'text/html' AS mime,
       trim(regexp_replace(COALESCE(text, ''), '[ \t\n\r\f\v]+', ' ', 'g'))
         || chr(10) || chr(10) AS extracted_text
FROM documents
"""


def stream_dedup_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen streaming dedup under the full oracle gate: pages
    stream in as four single-file micro-batches
    (maxFilesPerTrigger=1), ``dropDuplicates`` on (host, fp) keeps
    ONE O(1) state-store row per fingerprint across batches, and the
    emitted first-seen rows are projected to the deterministic
    (host, fp) SET — which duplicate row wins is order-dependent, the
    set of surviving fingerprints is not, so DuckDB can verify it
    exactly.  Payload = first two tokens of each document (collides
    across docs by construction -> real in-batch AND cross-batch
    suppressions)."""
    from docwire_spark.streaming.dedup_stream import stream_dedup_native

    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.expr(f"array_join(slice({TOKENS_EXPR}, 1, 2), ' ')"),
            "UTF-8",
        ).alias("html"),
    )
    out = _drain(spark, pages.repartition(4), "url string, html binary",
                 stream_dedup_native, max_files_per_trigger=1)
    return out.select("host", "fp")


STREAM_DEDUP_NATIVE_SQL = """
SELECT DISTINCT source AS host,
       md5(COALESCE(array_to_string(
         regexp_extract_all(lower(COALESCE(text, '')),
                            '[a-z0-9]+')[1:2], ' '), '')) AS fp
       -- outer COALESCE: DuckDB array_to_string([]) is NULL where
       -- Spark array_join([]) is '' — token-less docs must
       -- fingerprint as md5('') in both engines
FROM documents
"""


#: NTZ -> epoch µs (session-tz-proof via field extraction — even
#: timestampdiff coerces NTZ through the session zone, see
#: common.ntz_epoch_us; events.ts is TIMESTAMP_NTZ and watermarks
#: require TIMESTAMP, so the instant conversion is explicit)
_NTZ_US = ntz_epoch_us("ts")


def stream_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical
    Structured Streaming pattern for late data — under the full
    oracle gate: events stream from a parquet drop directory, a
    30-minute watermark bounds state, 1-hour windows aggregate counts
    and scaled-integer value cents (order-independent sums — double
    sums are partition-order-dependent and would break the
    cross-engine hash), append mode emits a window only once its end
    passes the final watermark (max event time - 30 min; the no-data
    micro-batch availableNow runs last performs the flush).  The
    DuckDB oracle models exactly that emission rule with time_bucket.

    The drop is consumed as ONE batch here because the parallel
    parquet write cannot guarantee file modification-time order —
    per-file triggers would make watermark late-drops depend on write
    timing.  tests/test_stream_windowed.py drives the multi-batch +
    genuinely-late-row semantics with controlled file mod times."""
    events = load(spark, sf_dir, "events").select(
        "event_type", "value",
        F.expr(f"timestamp_micros({_NTZ_US})").alias("ts"),
    )

    def windowed(stream: DataFrame) -> DataFrame:
        win = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
                .alias("value_cents"),
            )
        )
        return win.select(
            F.unix_micros("w.start").alias("ws_us"),
            F.unix_micros("w.end").alias("we_us"),
            "event_type", "n_events", "value_cents",
        )

    return _drain(spark, events.repartitionByRange(4, "ts"),
                  "event_type string, value double, ts timestamp",
                  windowed)


STREAM_EVENTS_WINDOWED_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
b AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM events GROUP BY 1, 2
)
SELECT epoch_us(ws) AS ws_us,
       epoch_us(ws + INTERVAL 1 HOUR) AS we_us,
       event_type, n_events, value_cents
FROM b, mx
WHERE ws + INTERVAL 1 HOUR <= m - INTERVAL 30 MINUTE
"""


def stream_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest corpus pipeline: streaming extraction
    COMPOSED with the map-side cleaning ops (token count, length
    gate, PII scrub) in ONE stream — no extra trigger, no state.

    This is the composability proof for the batch operators: every
    stateless op in the engine (quality flags, redaction, text stats)
    chains onto the streaming extraction exactly as onto a batch scan,
    because both are plain Column expressions over the same schema.
    The oracle reconstructs the same columns analytically, proving
    stream == batch for the composed pipeline too."""
    from docwire_spark.ops.corpus_filter import redact_pii_column
    from docwire_spark.spark.extract import extract_pages

    def cleaned(stream: DataFrame) -> DataFrame:
        return redact_pii_column(
            extract_pages(stream)
            .withColumn("text", F.col("extracted_text"))
            .withColumn(
                "n_tok",
                F.size(F.expr(TOKENS_EXPR)).cast("bigint"),
            )
            .withColumn(
                "keep_len", (F.col("n_tok") >= 15).cast("int")
            )
            .select("url", "text", "n_tok", "keep_len"),
            "text",
        )

    pages = _html_pages(load(spark, sf_dir, "documents"))
    out = _drain(spark, pages, "url string, html binary", cleaned)
    return out.select(
        _doc_id(),
        "n_tok", "keep_len", "n_pii_emails", "n_pii_phones", "n_pii_ips",
        F.col("text").alias("clean_text"),
    )


# the extraction of "<p>text</p>" is trim(collapse(text)) + "\n\n";
# tokens are whitespace-insensitive so n_tok is computable from the
# raw text; the synthetic corpus carries no PII so the scrub counts
# are zero and clean_text equals the extraction (the POSITIVE-match
# redaction behavior is covered by the batch pii_redact oracle)
STREAM_CORPUS_CLEAN_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(COALESCE(text, '')),
                                   '[a-z0-9]+')) AS BIGINT)
         AS n_tok,
       CAST(len(regexp_extract_all(lower(COALESCE(text, '')),
                                   '[a-z0-9]+')) >= 15
            AS INT) AS keep_len,
       CAST(0 AS BIGINT) AS n_pii_emails,
       CAST(0 AS BIGINT) AS n_pii_phones,
       CAST(0 AS BIGINT) AS n_pii_ips,
       trim(regexp_replace(COALESCE(text, ''), '[ \t\n\r\f\v]+', ' ', 'g'))
         || chr(10) || chr(10) AS clean_text
FROM documents
"""


QUERIES = {
    "extract_stream_plain": extract_stream_plain,
    "stream_dedup_native": stream_dedup_native,
    "stream_events_windowed": stream_events_windowed,
    "stream_corpus_clean": stream_corpus_clean,
}
ORACLES = {
    "extract_stream_plain": EXTRACT_STREAM_PLAIN_SQL,
    "stream_dedup_native": STREAM_DEDUP_NATIVE_SQL,
    "stream_events_windowed": STREAM_EVENTS_WINDOWED_SQL,
    "stream_corpus_clean": STREAM_CORPUS_CLEAN_SQL,
}
