"""Structured Streaming extraction: continuous ingest of page batches.

The batch pipeline's exact transformation (``extract_pages`` —
byte-bounded splits, mapInArrow kernel) applied to a streaming
DataFrame: new parquet drops under the source path are discovered per
micro-batch, extracted, stamped with the batch writer's url-hash
``bucket`` and ``commit_group`` (``lineage.with_commit_group``) and
appended to the sink partitioned by commit group, with the stream
checkpoint providing exactly-once file-level resume (the streaming
analog of the batch CheckpointedWriter's commit log).

At 100 TB-scale ingestion this is the "keep up with the crawl" mode:
one long-lived job instead of scheduled backfills, same kernel and
same result schema, so downstream consumers cannot tell which mode
produced a row.

Usage::

    q = start_extract_stream(spark, "/crawl/pages", "/out/extracted",
                             checkpoint="/out/_chk")
    q.processAllAvailable()   # or awaitTermination() in production
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from docwire_spark.spark.extract import extract_pages
from docwire_spark.spark.lineage import DEFAULT_SHARDS, with_commit_group

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def start_extract_stream(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint: str,
    n_shards: int = DEFAULT_SHARDS,
    groups: int = 16,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """File-source -> extraction -> partitioned parquet sink.

    ``availableNow`` drains the backlog and stops (backfill mode);
    without it the query runs continuously.  ``commit_group``
    partitioning matches the batch writer's layout so resume tooling
    and readers are shared."""
    reader = (
        spark.readStream.schema(PAGES_DDL).format("parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.load(source_path)
    extracted = with_commit_group(extract_pages(pages), n_shards, groups)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("commit_group")
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
