"""Streaming dedup: first-seen URL filtering on Spark's native state
store.

The "keep up with the crawl" companion to the batch dedup ops: as page
batches stream in, ``dropDuplicates`` keeps one O(1) state-store row
per (host, content fingerprint) it has already emitted
(RocksDB-backed at cluster scale), and only first-seen documents pass
through.  State survives query restarts via the stream checkpoint, so
a killed ingest resumes without re-emitting (or losing) documents —
the stateful analog of the batch CheckpointedWriter's idempotent
commits.  ``dropDuplicatesWithinWatermark`` bounds the state by event
time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_dedup_native(pages: DataFrame, watermark=None) -> DataFrame:
    """Streaming DataFrame (url, html, ...) -> first-seen
    (host, url, fp) rows only; fp = md5 of the page bytes (exact
    dedup).

    ``watermark=("ts", "7 days")`` switches to
    ``dropDuplicatesWithinWatermark`` so fingerprint state is evicted
    once the event-time horizon passes — bounded state for unbounded
    streams."""
    keyed = pages.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        "url",
        F.md5(F.col("html")).alias("fp"),
        *([F.col(watermark[0])] if watermark else []),
    )
    if watermark is not None:
        col, delay = watermark
        return keyed.withWatermark(col, delay).dropDuplicatesWithinWatermark(
            ["host", "fp"]
        ).drop(col)
    return keyed.dropDuplicates(["host", "fp"])
