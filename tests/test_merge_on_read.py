"""Merge-on-read delta commits: upsert, tombstone, idempotency,
latest-wins across multiple deltas, and resume-safety of the shared
commit log."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def base_writer(spark, tmp_path):
    from docwire_spark.spark.corpus import build_pages_df
    from docwire_spark.spark.extract import extract_pages
    from docwire_spark.spark.lineage import CheckpointedWriter

    out = str(tmp_path / "mor")
    pages = build_pages_df(spark, 120, n_hosts=8, seed=29).cache()
    ex = extract_pages(pages)
    w = CheckpointedWriter(out, n_shards=8, groups=4)
    w.run(ex)
    return w


def _delta_row(base, url, **overrides):
    d = base.filter(F.col("url") == url)
    for k, v in overrides.items():
        d = d.withColumn(k, F.lit(v))
    return d


def test_upsert_overrides_base_row(spark, base_writer):
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    delta = _delta_row(base, victim["url"], extracted_text="PATCHED")
    assert w.write_delta(delta, "fix-1") is True

    merged = w.read_merged(spark)
    assert merged.count() == base.count()
    got = merged.filter(F.col("url") == victim["url"]).first()
    assert got["extracted_text"] == "PATCHED"
    # internal columns do not leak
    for c in ("_seq", "_deleted", "_rn"):
        assert c not in merged.columns


def test_tombstone_deletes_row(spark, base_writer):
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    delta = _delta_row(base, victim["url"], _deleted=True)
    w.write_delta(delta, "del-1")
    merged = w.read_merged(spark)
    assert merged.count() == base.count() - 1
    assert merged.filter(F.col("url") == victim["url"]).count() == 0


def test_duplicate_key_within_delta_resolves_deterministically(
    spark, base_writer
):
    """ADVICE r3: two rows with the same key inside ONE delta share
    _seq; the stable row-hash tiebreaker must make repeated reads of
    the same committed state return the same row every time."""
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    dup = _delta_row(base, victim["url"], extracted_text="A").unionByName(
        _delta_row(base, victim["url"], extracted_text="B")
    )
    w.write_delta(dup, "dup-1")
    picks = {
        w.read_merged(spark)
        .filter(F.col("url") == victim["url"])
        .first()["extracted_text"]
        for _ in range(4)
    }
    assert len(picks) == 1, picks
    assert picks <= {"A", "B"}


def test_later_delta_wins_and_replay_is_noop(spark, base_writer):
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    w.write_delta(_delta_row(base, victim["url"], extracted_text="V1"), "d1")
    w.write_delta(_delta_row(base, victim["url"], extracted_text="V2"), "d2")
    # replaying an already-committed delta is an idempotent no-op,
    # even with different (stale) content
    assert (
        w.write_delta(_delta_row(base, victim["url"], extracted_text="STALE"), "d1")
        is False
    )
    got = w.read_merged(spark).filter(F.col("url") == victim["url"]).first()
    assert got["extracted_text"] == "V2"


def test_group_resume_unaffected_by_delta_entries(spark, base_writer):
    """Delta commits share commit_log.jsonl; the group-resume readers
    must keep working."""
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    w.write_delta(_delta_row(base, victim["url"], extracted_text="X"), "d-mix")
    assert w.committed_groups() == set(range(4))
    assert len(w.committed_buckets()) == 8
    # filter_uncommitted still drops everything (all buckets committed)
    from docwire_spark.spark.corpus import build_pages_df

    pages = build_pages_df(spark, 40, n_hosts=8, seed=1)
    assert w.filter_uncommitted(pages).count() == 0


def test_time_travel_snapshots(spark, base_writer):
    """as_of_seq replays the table at each committed snapshot."""
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    w.write_delta(_delta_row(base, victim["url"], extracted_text="V1"),
                  "tt-1")
    w.write_delta(_delta_row(base, victim["url"], extracted_text="V2"),
                  "tt-2")
    assert w.max_delta_seq() == 2

    def text_at(seq):
        return (w.read_merged(spark, as_of_seq=seq)
                .filter(F.col("url") == victim["url"])
                .first()["extracted_text"])

    assert text_at(0) == victim["extracted_text"]  # base only
    assert text_at(1) == "V1"
    assert text_at(2) == "V2"
    # default = latest
    assert (w.read_merged(spark).filter(F.col("url") == victim["url"])
            .first()["extracted_text"]) == "V2"


def test_compaction_preserves_view_and_retires_deltas(spark, base_writer):
    w = base_writer
    base = w.read(spark)
    rows = base.orderBy("url").take(2)
    w.write_delta(_delta_row(base, rows[0]["url"], extracted_text="NEW"),
                  "c-up")
    w.write_delta(
        _delta_row(base, rows[1]["url"]).withColumn("_deleted", F.lit(True)),
        "c-del")
    before = {(r["url"], r["extracted_text"])
              for r in w.read_merged(spark).collect()}

    stats = w.compact(spark)
    assert stats == {"compacted": True, "deltas_removed": 2,
                     "n_rows": len(before)}
    # view identical, now served from base files alone
    after = {(r["url"], r["extracted_text"])
             for r in w.read_merged(spark).collect()}
    assert after == before
    assert w.max_delta_seq() == 0
    assert not [d for d in os.listdir(w.out_dir) if d.startswith("delta=")]
    # plain base read equals the merged view post-compaction
    plain = {(r["url"], r["extracted_text"])
             for r in w.read(spark).collect()}
    assert plain == before
    # second compaction is a no-op
    assert w.compact(spark) == {"compacted": False, "deltas_removed": 0}
    # group commit log is fully rebuilt (resume contract intact)
    assert w.committed_groups() == set(range(4))


def test_compaction_keeps_delta_insert_without_bucket(spark, base_writer):
    """A delta may insert a url the base never had and carry no
    ``bucket``: compaction derives it from the url instead of dropping
    the row."""
    w = base_writer
    n_base = w.read(spark).count()
    url = "https://new.example/inserted"
    delta = spark.createDataFrame(
        [(url, "INSERTED")], "url string, extracted_text string")
    w.write_delta(delta, "insert-1")
    assert w.read_merged(spark).count() == n_base + 1

    assert w.compact(spark)["n_rows"] == n_base + 1
    rows = w.read(spark).filter(F.col("url") == url).select(
        "extracted_text", "bucket",
        F.pmod(F.xxhash64("url"), F.lit(8)).alias("want"),
    ).collect()
    assert len(rows) == 1
    assert (rows[0].extracted_text, rows[0].bucket) == (
        "INSERTED", rows[0].want)
    assert w.read(spark).count() == n_base + 1


@pytest.mark.parametrize("carried", [None, 999])
def test_merged_view_agrees_with_compacted_base(spark, base_writer, carried):
    """A delta row inserted with no ``bucket`` (or a stale one) reads
    back from the merged view with the bucket compaction stores."""
    w = base_writer
    url = "https://new.example/merged"
    if carried is None:
        delta = spark.createDataFrame(
            [(url, "INSERTED")], "url string, extracted_text string")
    else:
        delta = spark.createDataFrame(
            [(url, "INSERTED", carried)],
            "url string, extracted_text string, bucket int")
    w.write_delta(delta, "insert-merged")

    def view(df):
        return sorted(
            (r.url, r.extracted_text, r.bucket)
            for r in df.select("url", "extracted_text", "bucket").collect()
        )

    merged = view(w.read_merged(spark))
    w.compact(spark)
    assert merged == view(w.read(spark))
    assert (url, "INSERTED", w.read(spark).filter(F.col("url") == url)
            .select(F.pmod(F.xxhash64("url"), F.lit(8))).first()[0]) in merged


def test_compaction_midway_state_is_consistent(spark, base_writer):
    """Step-2 invariant: compacted base + old deltas reconciles to the
    same view (re-applying applied deltas is idempotent) — the state a
    crash between dir swap and log switch leaves behind."""
    w = base_writer
    base = w.read(spark)
    victim = base.orderBy("url").first()
    w.write_delta(_delta_row(base, victim["url"], extracted_text="X"),
                  "mid-1")
    before = {(r["url"], r["extracted_text"])
              for r in w.read_merged(spark).collect()}
    import json

    old_log = open(w.log_path).read()
    # snapshot the delta rows BEFORE compaction deletes the old files
    victim_rows = base.filter(F.col("url") == victim["url"]).collect()
    w.compact(spark)
    # resurrect the pre-compaction log over the compacted base, with
    # the delta dir restored (simulates the crash window)
    entries = [json.loads(ln) for ln in old_log.splitlines()]
    delta_e = [e for e in entries if "delta_id" in e][0]
    d = spark.createDataFrame(victim_rows, base.schema) \
        .withColumn("extracted_text", F.lit("X")) \
        .withColumn("_deleted", F.lit(False))
    d.write.mode("overwrite").parquet(
        os.path.join(w.out_dir, f"delta={delta_e['delta_id']}"))
    with open(w.log_path, "w") as f:
        f.write(old_log)
    spark.catalog.refreshByPath(w.out_dir)
    mid = {(r["url"], r["extracted_text"])
           for r in w.read_merged(spark).collect()}
    assert mid == before
