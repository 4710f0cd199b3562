"""Streaming dedup on the native state store: cross-batch state +
restart recovery, and watermark-bounded state.

Two separate availableNow runs over the same checkpoint: batch 2
contains duplicates of batch 1 — the restarted query must suppress
them purely from recovered state, proving exactly-once dedup across
process restarts (the streaming analog of the batch writer's resume
test).
"""

from __future__ import annotations

import os


def _write_pages(spark, path, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "url string, body string").select(
        "url", F.encode("body", "UTF-8").alias("html")
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _run_once(spark, src, chk, out):
    """One availableNow drain into a fault-tolerant parquet sink (the
    memory sink does not support checkpoint recovery)."""
    from docwire_spark.streaming.dedup_stream import stream_dedup_native

    pages = (
        spark.readStream.schema("url string, html binary")
        .format("parquet")
        .load(src)
    )
    q = (
        stream_dedup_native(pages)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r["host"], r["url"], r["fp"])
        for r in spark.read.parquet(out).collect()
    }


def test_stream_dedup_across_restarts(spark, tmp_path):
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    os.makedirs(src, exist_ok=True)

    _write_pages(spark, src, [
        ("https://a.example/1", "alpha"),
        ("https://a.example/2", "beta"),
        ("https://b.example/1", "alpha"),   # same body, other host: kept
        ("https://a.example/3", "alpha"),   # dup within batch: dropped
    ])
    got1 = _run_once(spark, src, chk, out)
    assert len(got1) == 3
    assert {h for h, _, _ in got1} == {"a.example", "b.example"}
    assert not any(u.endswith("/3") for _, u, _ in got1)

    # second drop: duplicates of batch 1 plus one new doc; a FRESH
    # query (new run) over the same checkpoint must recover state and
    # suppress cross-batch duplicates
    _write_pages(spark, src, [
        ("https://a.example/4", "alpha"),   # dup of batch 1: dropped
        ("https://a.example/5", "gamma"),   # new: kept
        ("https://b.example/2", "alpha"),   # dup for b: dropped
    ])
    got2 = _run_once(spark, src, chk, out)
    new = got2 - got1
    assert len(got2) == 4 and len(new) == 1
    ((host, url, _fp),) = new
    assert host == "a.example" and url.endswith("/5")


def test_stream_dedup_native_watermark_bounded(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: event-time column rides
    along, state is bounded by the watermark horizon, and in-horizon
    duplicates are suppressed."""
    import os

    from pyspark.sql import functions as F

    from docwire_spark.streaming.dedup_stream import stream_dedup_native

    src = str(tmp_path / "wsrc")
    os.makedirs(src, exist_ok=True)
    rows = [
        ("https://a.example/1", "alpha", "2024-01-01 10:00:00"),
        ("https://a.example/2", "alpha", "2024-01-01 10:05:00"),  # dup
        ("https://a.example/3", "beta", "2024-01-01 10:06:00"),
    ]
    df = spark.createDataFrame(
        rows, "url string, body string, ts_s string"
    ).select(
        "url", F.encode("body", "UTF-8").alias("html"),
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    df.coalesce(1).write.mode("append").parquet(src)
    pages = (
        spark.readStream.schema("url string, html binary, ts timestamp")
        .format("parquet")
        .load(src)
    )
    out = str(tmp_path / "wout")
    q = (
        stream_dedup_native(pages, watermark=("ts", "10 minutes"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wchk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["host"], r["fp"]) for r in spark.read.parquet(out).collect()}
    assert len(got) == 2  # alpha suppressed once, beta kept


def test_release_persisted_drops_stream_sinks(spark):
    """A streaming registry query drains into a memory sink whose rows
    live in the driver: the sink views it leaves in the catalog must be
    gone after release_persisted(), as its cached tables are."""
    from docwire_spark.ops.common import release_persisted
    from docwire_spark.ops.stream_extract import (
        extract_stream_plain, stream_dedup_native,
    )

    def views():
        return {t.name for t in spark.catalog.listTables()}

    sf_dir = "/root/testdata/sf0.001"
    release_persisted()
    before = views()
    for query in (extract_stream_plain, stream_dedup_native):
        assert query(spark, sf_dir).count() > 0
    sinks = views() - before
    assert len(sinks) == 2, sinks
    assert all(n.startswith("stream_sink_") for n in sinks), sinks
    release_persisted()
    assert not views() & sinks
