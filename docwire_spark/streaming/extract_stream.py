"""Structured Streaming extraction: continuous ingest of page batches.

The batch pipeline's exact transformation (``extract_pages`` —
byte-bounded splits, mapInArrow kernel, computed url-hash bucket)
applied to a streaming DataFrame: new parquet drops under the source
path are discovered per micro-batch, extracted, and appended to the
sink partitioned by commit bucket-group, with the stream checkpoint
providing exactly-once file-level resume (the streaming analog of the
batch CheckpointedWriter's commit log).

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

from pyspark.sql import DataFrame, SparkSession, functions as F

from docwire_spark.spark.extract import (
    DEFAULT_SHARDS, _make_extract_batches, _result_schema,
)

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def extract_stream(
    pages: DataFrame,
    n_shards: int = DEFAULT_SHARDS,
    with_main_content: bool = False,
    exports: tuple = (),
) -> DataFrame:
    """Apply the extraction transformation to a streaming DataFrame.

    Mirrors ``extract_pages`` (no pre-shuffle; bucket is computed on
    the narrow input and passed through the Arrow batches)."""
    src = pages.select(
        "url", "html",
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_shards))
        .cast("int").alias("bucket"),
    )
    schema = _result_schema(False, with_main_content, exports)
    batch_fn = _make_extract_batches(False, with_main_content, exports)
    return src.mapInArrow(batch_fn, schema)


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
    extracted = extract_stream(pages, n_shards=n_shards).withColumn(
        "commit_group", F.pmod(F.col("bucket"), F.lit(groups)).cast("int")
    )
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
