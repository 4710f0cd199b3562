"""End-to-end Spark extraction tests: synthetic corpus -> mapInArrow
extraction -> byte-identity vs the analytically-generated expected
text; plus lineage/resume and skew-salting behavior."""

import json
import os

import pytest
from pyspark.sql import functions as F

from docwire_spark.spark.corpus import build_pages_df
from docwire_spark.spark.extract import (
    extract_pages, metrics_by_partition, salted_host_key, with_host,
)
from docwire_spark.spark.lineage import CheckpointedWriter

N_DOCS = 200


@pytest.fixture(scope="module")
def pages(spark):
    df = build_pages_df(spark, N_DOCS, n_hosts=12, seed=42, oversize_rate=0.02)
    df.cache()
    df.count()
    return df


def test_corpus_deterministic(spark):
    a = build_pages_df(spark, 50, seed=7, n_slices=2).orderBy("url").collect()
    b = build_pages_df(spark, 50, seed=7, n_slices=5).orderBy("url").collect()
    assert [r.url for r in a] == [r.url for r in b]
    assert [bytes(r.html) for r in a] == [bytes(r.html) for r in b]


def test_extract_byte_identity(spark, pages):
    extracted = extract_pages(pages, with_binary=True)
    joined = (
        extracted.join(pages.select("url", "expected_text"), "url")
        .select("url", "error", "extracted_bytes", "expected_text", "mime")
        .collect()
    )
    assert len(joined) == N_DOCS
    bad = [r for r in joined if r.error is not None]
    assert not bad, bad[:3]
    mismatches = [
        (r.url, bytes(r.extracted_bytes), bytes(r.expected_text))
        for r in joined
        if bytes(r.extracted_bytes) != bytes(r.expected_text)
    ]
    assert not mismatches, mismatches[:2]
    assert all(r.mime == "text/html" for r in joined)


def test_metrics(spark, pages):
    extracted = extract_pages(pages)
    m = metrics_by_partition(extracted).collect()
    assert sum(r.n_docs for r in m) == N_DOCS
    assert sum(r.n_failed for r in m) == 0
    assert all(r.bytes_in > 0 for r in m)


def test_checkpointed_writer_resume(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    extracted = extract_pages(pages)
    w = CheckpointedWriter(out, n_shards=8, groups=4)
    stats = w.run(extracted, batch_id="batch1")
    assert stats["groups_written"] == 4

    # simulate a killed job: drop one committed group from the log
    lines = open(w.log_path).read().strip().splitlines()
    with open(w.log_path, "w") as f:
        f.write("\n".join(lines[:-1]) + "\n")
    # the unlogged group's directory is not part of the table
    lost = json.loads(lines[-1])["n_rows"]
    assert w.read(spark).count() == N_DOCS - lost
    stats2 = w.run(extracted, batch_id="batch2")
    assert stats2["groups_skipped"] == 3
    assert stats2["groups_written"] == 1

    total = w.read(spark).count()
    assert total == N_DOCS
    # row counts in the commit log match what was written
    logged = sum(
        json.loads(ln)["n_rows"]
        for ln in open(w.log_path).read().strip().splitlines()
    )
    assert logged == N_DOCS
    # idempotent: nothing left to write
    stats3 = w.run(extracted, batch_id="batch3")
    assert stats3["groups_written"] == 0

    # resume filter drops all committed input rows
    remaining = w.filter_uncommitted(pages).count()
    assert remaining == 0


@pytest.mark.parametrize("carried", [None, 999])
def test_writer_stamps_its_own_bucket(spark, tmp_path, carried):
    """bucket is pmod(xxhash64(url), the writer's n_shards), whether the
    input carries no bucket or a stale one."""
    df = spark.range(60).selectExpr("concat('https://h.example/', id) AS url")
    if carried is not None:
        df = df.withColumn("bucket", F.lit(carried))
    w = CheckpointedWriter(str(tmp_path / "out"), n_shards=8, groups=4)
    assert w.run(df)["groups_written"] == 4
    rows = w.read(spark).select(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(8)).alias("want")
    ).collect()
    assert len(rows) == 60
    assert all(r.bucket == r.want for r in rows)


def test_salted_host_key(spark, pages):
    df = with_host(pages)
    salted = salted_host_key(df, skew_threshold=20, salt_buckets=4)
    rows = salted.groupBy("host", "salted_host").count().collect()
    per_host = {}
    for r in rows:
        per_host.setdefault(r.host, set()).add(r.salted_host)
    host_counts = {r.host: r["count"] for r in df.groupBy("host").count().collect()}
    for host, keys in per_host.items():
        if host_counts[host] > 20:
            assert len(keys) > 1, (host, keys)
        else:
            assert len(keys) == 1


def test_oversized_rows_byte_identity(spark, pages):
    """Rows of 300-450 KiB (50-100x the per-row parse cost) need no
    branch of their own: the default path extracts them exactly."""
    big = pages.filter(F.length("html") > 262_144).select(
        "url", "expected_text"
    )
    assert big.count() > 0, "corpus should contain oversized rows"
    extracted = extract_pages(pages, with_binary=True)
    joined = extracted.join(big, "url").select(
        "error", "extracted_bytes", "expected_text"
    ).collect()
    assert len(joined) == big.count()
    assert all(r.error is None for r in joined)
    assert all(
        bytes(r.extracted_bytes) == bytes(r.expected_text) for r in joined
    )
