"""Structured Streaming extraction: availableNow drain over a file
source must produce byte-identical results to the batch path, and the
stream checkpoint must make re-runs incremental (only new files)."""

import os

from pyspark.sql import functions as F

from docwire_spark.spark.corpus import build_pages_df
from docwire_spark.streaming import start_extract_stream


def _write_batch(spark, tmp, name, n, seed):
    df = build_pages_df(spark, n, n_hosts=8, seed=seed)
    df.select("url", "warc_ts", "html", "text", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "src", name))


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    tmp = str(tmp_path)
    src_root = os.path.join(tmp, "src")
    os.makedirs(src_root)
    _write_batch(spark, tmp, "drop1", 120, seed=1)

    sink = os.path.join(tmp, "out")
    chk = os.path.join(tmp, "chk")
    q = start_extract_stream(
        spark, os.path.join(src_root, "*"), sink, chk, n_shards=8, groups=4
    )
    q.awaitTermination()

    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert out.filter(F.col("error").isNotNull()).count() == 0
    # byte-identity vs the synthetic corpus expectation
    pages = build_pages_df(spark, 120, n_hosts=8, seed=1)
    joined = out.join(pages.select("url", "expected_text"), "url")
    bad = joined.filter(
        F.encode(F.col("extracted_text"), "UTF-8") != F.col("expected_text")
    ).count()
    assert bad == 0
    # commit-group partitioning matches the batch writer layout
    groups = {r.commit_group for r in out.select("commit_group").distinct().collect()}
    assert groups <= set(range(4))
    # ... with the batch writer's bucket rule
    want = F.pmod(F.xxhash64("url"), F.lit(8))
    assert out.filter(
        (F.col("bucket") != want) | (F.col("commit_group") != want % 4)
    ).count() == 0

    # second drop: checkpoint resumes, only new files processed
    _write_batch(spark, tmp, "drop2", 60, seed=2)
    q2 = start_extract_stream(
        spark, os.path.join(src_root, "*"), sink, chk, n_shards=8, groups=4
    )
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == 180
