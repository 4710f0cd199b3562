"""Checkpointed, idempotent, resumable writes with per-bucket lineage.

No Iceberg runtime ships in this environment, so this module emulates
the same contract with atomic parquet staging + a commit log
(flagged emulation; swap ``CheckpointedWriter`` for an Iceberg
``MERGE``-based implementation on a real cluster — the interface and
the resume semantics are identical):

- the writer stamps each document with a deterministic ``bucket``
  (:func:`url_bucket`, the one url-hash sharding rule) derived from its
  url with the writer's own ``n_shards``; a ``bucket`` the input
  carries is replaced, so no caller has to agree on ``n_shards``
- buckets are processed in ``groups`` commit units; one
  dynamic-partition pass stages every uncommitted group (this is where
  the url-hash sharding becomes physical — at the commit boundary, not
  as a pre-shuffle of raw input bytes), then each group is atomically
  renamed into the output and a manifest line
  ``{group, buckets, n_rows, batch_id}`` appended to commit_log.jsonl
- a killed job re-runs only groups missing from the commit log
  (anti-join on committed buckets); re-running a committed group is a
  no-op (idempotent)
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_SHARDS = 128


def url_bucket(n_shards: int, key_col: str = "url") -> Column:
    """The url-hash shard of ``key_col``: pmod(xxhash64(key), n_shards),
    stable across runs and cluster sizes."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")


def with_commit_group(df: DataFrame, n_shards: int, groups: int,
                      key_col: str = "url") -> DataFrame:
    """Stamp ``bucket`` from ``key_col`` (replacing any carried one) and
    its commit unit ``commit_group`` = bucket % groups."""
    return df.withColumn("bucket", url_bucket(n_shards, key_col)).withColumn(
        "commit_group", F.pmod(F.col("bucket"), F.lit(groups)).cast("int")
    )


def _parquet_row_count(dir_path: str) -> int:
    """Row count from parquet footers (no Spark action)."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(dir_path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(dir_path, name)).metadata.num_rows
    return total


class CheckpointedWriter:
    def __init__(self, out_dir: str, n_shards: int = DEFAULT_SHARDS,
                 groups: int = 16):
        self.out_dir = out_dir
        self.n_shards = n_shards
        self.groups = groups
        self.log_path = os.path.join(out_dir, "commit_log.jsonl")
        os.makedirs(out_dir, exist_ok=True)

    # -- commit log ------------------------------------------------------
    def committed_groups(self) -> set:
        # delta commits share the log but carry no "group" key
        return {
            e["group"] for e in self._log_entries() if "group" in e
        }

    def committed_buckets(self) -> set:
        done = set()
        for e in self._log_entries():
            done.update(e.get("buckets", ()))
        return done

    def _append_log(self, entry: dict):
        # single-writer append; atomic enough at driver granularity
        with open(self.log_path, "a") as f:
            f.write(json.dumps(entry, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # -- write -----------------------------------------------------------
    def run(self, extracted: DataFrame, batch_id: str | None = None) -> dict:
        """Write ``extracted`` (must have a ``url`` column) in
        ``groups`` independent commit units; resume-safe.

        ONE pass writes all uncommitted groups via a dynamic-partition
        write to a staging dir, then each group is atomically renamed +
        logged.  Row counts come from the staged parquet footers — no
        second action over the pipeline, so the scan+extract upstream
        runs once (the Iceberg equivalent is one MERGE per group over a
        cached/staged intermediate).
        """
        batch_id = batch_id or uuid.uuid4().hex
        done = self.committed_groups()
        stats = {"groups_total": self.groups, "groups_skipped": len(done)}
        todo = [g for g in range(self.groups) if g not in done]
        if not todo:
            stats["groups_written"] = 0
            return stats

        df = with_commit_group(extracted, self.n_shards, self.groups)
        staging_root = os.path.join(self.out_dir, f"_staging_{batch_id}")
        keep = df.filter(F.col("commit_group").isin(todo))
        keep.write.mode("overwrite").partitionBy("commit_group").parquet(
            staging_root
        )
        for g in todo:
            staged = os.path.join(staging_root, f"commit_group={g}")
            if not os.path.exists(staged):
                os.makedirs(staged)  # empty group still commits
            self._commit_group(
                g, staged, _parquet_row_count(staged), batch_id
            )
        shutil.rmtree(staging_root, ignore_errors=True)
        stats["groups_written"] = len(todo)
        return stats

    def _commit_group(
        self, g: int, staging: str, n_rows: int, batch_id: str
    ) -> None:
        final = os.path.join(self.out_dir, f"group={g}")
        if os.path.exists(final):
            shutil.rmtree(final)  # stale partial from a killed run
        os.replace(staging, final)
        self._append_log(
            {
                "group": g,
                "buckets": list(range(g, self.n_shards, self.groups)),
                "n_rows": n_rows,
                "batch_id": batch_id,
            }
        )

    def read(self, spark) -> DataFrame:
        """The committed base: the group directories the commit log
        names (a directory a killed run moved in but never logged is
        not part of the table)."""
        return spark.read.parquet(*(
            os.path.join(self.out_dir, f"group={g}")
            for g in sorted(self.committed_groups())
        ))

    def filter_uncommitted(self, pages: DataFrame, url_col: str = "url") -> DataFrame:
        """Resume helper: drop input rows whose bucket already committed."""
        committed = sorted(self.committed_buckets())
        if not committed:
            return pages
        return pages.filter(
            ~url_bucket(self.n_shards, url_col).isin(committed)
        )

    # -- merge-on-read deltas ---------------------------------------------
    # Iceberg's MoR contract, emulated: recrawls/corrections land as
    # small DELTA commits (never rewriting base files); readers
    # reconcile latest-wins per key at scan time.  Compaction is the
    # usual background job on a real cluster; here read_merged IS the
    # read path, so correctness never depends on compaction running.

    def write_delta(self, df: DataFrame, delta_id: str,
                    key_col: str = "url") -> bool:
        """Commit an upsert/delete delta atomically; returns False (a
        no-op) if ``delta_id`` already committed — the idempotency the
        resume contract requires.  Rows with a true ``_deleted`` column
        are tombstones (the column is added as false when absent)."""
        if any(
            e.get("delta_id") == delta_id for e in self._log_entries()
        ):
            return False
        if "_deleted" not in df.columns:
            df = df.withColumn("_deleted", F.lit(False))
        seq = 1 + max(
            (e.get("delta_seq", 0) for e in self._log_entries()), default=0
        )
        staging = os.path.join(
            self.out_dir, f"_staging_delta_{uuid.uuid4().hex}"
        )
        df.write.mode("overwrite").parquet(staging)
        n_rows = _parquet_row_count(staging)
        final = os.path.join(self.out_dir, f"delta={delta_id}")
        if os.path.exists(final):
            shutil.rmtree(final)  # stale partial from a killed run
        os.replace(staging, final)
        self._append_log(
            {"delta_id": delta_id, "delta_seq": seq, "n_rows": n_rows,
             "key_col": key_col}
        )
        return True

    def max_delta_seq(self) -> int:
        """Highest committed delta sequence (0 = base only) — the
        snapshot ids ``read_merged(as_of_seq=...)`` accepts."""
        return max(
            (e.get("delta_seq", 0) for e in self._log_entries()), default=0
        )

    def read_merged(self, spark, key_col: str = "url",
                    as_of_seq: int | None = None) -> DataFrame:
        """Base ∪ committed deltas with latest-wins per key and
        tombstone filtering — the merge-on-read scan.

        ``as_of_seq`` is snapshot time travel (Iceberg's VERSION AS OF,
        emulated): only deltas with ``delta_seq <= as_of_seq``
        participate, so ``0`` reads the base alone and
        ``max_delta_seq()`` (the default) reads the latest state.
        Snapshots older than the last ``compact()`` are expired — same
        contract as Iceberg snapshot expiration.

        Scale shape: ONE shuffle on the key (the row_number window);
        delta files are tiny relative to base, and the window group
        per key is (1 + times recrawled), never corpus-sized.

        Determinism: _seq alone under-orders when one delta (or the
        base) carries two rows with the same key — row_number would
        then pick one nondeterministically across reads of the SAME
        committed state.  A stable full-row hash breaks the tie, so
        repeated scans always reconcile to the same row (ADVICE r3)."""
        from pyspark.sql import Window

        base = self.read(spark).withColumn("_seq", F.lit(0)) \
            .withColumn("_deleted", F.lit(False))
        merged = base
        deltas = sorted(
            (e for e in self._log_entries() if "delta_id" in e),
            key=lambda e: e["delta_seq"],
        )
        if as_of_seq is not None:
            deltas = [e for e in deltas if e["delta_seq"] <= as_of_seq]
        for e in deltas:
            d = spark.read.parquet(
                os.path.join(self.out_dir, f"delta={e['delta_id']}")
            ).withColumn("_seq", F.lit(e["delta_seq"]))
            merged = merged.unionByName(d, allowMissingColumns=True)
        tie_cols = sorted(c for c in merged.columns if c != "_seq")
        # hash a JSON rendering, not the raw columns: xxhash64 skips
        # NULL inputs without encoding position, so rows (v, NULL) and
        # (NULL, v) would collide and the tie would stay
        # nondeterministic; to_json names each non-null field, making
        # the digest injective over null placement
        merged = merged.withColumn(
            "_tie", F.xxhash64(F.to_json(F.struct(*tie_cols)))
        )
        w = Window.partitionBy(key_col).orderBy(
            F.col("_seq").desc(), F.col("_tie").asc()
        )
        # ``bucket`` is derived from the key as the writer derives it,
        # so a delta row that carried none (or a stale one) reads back
        # as compact() will store it
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
            .drop("_rn", "_seq", "_deleted", "_tie")
            .withColumn("bucket", url_bucket(self.n_shards, key_col))
        )

    def compact(self, spark, key_col: str = "url") -> dict:
        """Materialize the merge-on-read view into a fresh base and
        retire the deltas — Iceberg's background compaction, emulated.
        Without it the delta list (and the per-scan reconcile cost)
        grows with every recrawl batch forever; after it, scans are
        pure base reads again.

        Crash ordering (each step leaves a READABLE, consistent
        table; a real cluster swaps this body for Iceberg's
        rewrite_data_files + snapshot expiration):
          1. stage the merged view, dynamic-partitioned by commit group
          2. swap the group dirs in — readers now see the compacted
             base PLUS the old deltas, which is the same view
             (re-applying an already-applied upsert/tombstone over the
             compacted base is idempotent under latest-wins)
          3. atomically replace the commit log (deltas retired)
          4. remove the delta dirs (pure garbage collection)
        Returns stats; no-op when no deltas are committed."""
        deltas = [e for e in self._log_entries() if "delta_id" in e]
        if not deltas:
            return {"compacted": False, "deltas_removed": 0}
        df = with_commit_group(
            self.read_merged(spark, key_col=key_col), self.n_shards,
            self.groups, key_col,
        )
        batch_id = "compact_" + uuid.uuid4().hex
        staging_root = os.path.join(self.out_dir, f"_staging_{batch_id}")
        df.write.mode("overwrite").partitionBy("commit_group").parquet(
            staging_root
        )
        # build the post-compaction log before touching live dirs
        new_log = []
        n_total = 0
        group_rows = {}
        for g in range(self.groups):
            staged = os.path.join(staging_root, f"commit_group={g}")
            if not os.path.exists(staged):
                os.makedirs(staged)
            group_rows[g] = _parquet_row_count(staged)
            n_total += group_rows[g]
            new_log.append(
                {
                    "group": g,
                    "buckets": list(range(g, self.n_shards, self.groups)),
                    "n_rows": group_rows[g],
                    "batch_id": batch_id,
                }
            )
        new_log.append(
            {
                "compaction": True,
                "batch_id": batch_id,
                "deltas_retired": [e["delta_id"] for e in deltas],
                "through_seq": max(e["delta_seq"] for e in deltas),
                "n_rows": n_total,
            }
        )
        tmp_log = self.log_path + ".compact"
        with open(tmp_log, "w") as f:
            for e in new_log:
                f.write(json.dumps(e, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())
        # step 2: swap group dirs (view stays equivalent throughout)
        for g in range(self.groups):
            staged = os.path.join(staging_root, f"commit_group={g}")
            final = os.path.join(self.out_dir, f"group={g}")
            if os.path.exists(final):
                shutil.rmtree(final)
            os.replace(staged, final)
        shutil.rmtree(staging_root, ignore_errors=True)
        # step 3: atomic log switch — deltas retired from the read path
        os.replace(tmp_log, self.log_path)
        # same-session readers hold a cached file listing for the
        # rewritten group dirs; invalidate it or their next scan throws
        # FAILED_READ_FILE on the replaced parquet parts
        spark.catalog.refreshByPath(self.out_dir)
        # step 4: GC the delta dirs
        for e in deltas:
            shutil.rmtree(
                os.path.join(self.out_dir, f"delta={e['delta_id']}"),
                ignore_errors=True,
            )
        return {
            "compacted": True,
            "deltas_removed": len(deltas),
            "n_rows": n_total,
        }

    def _log_entries(self) -> list:
        out = []
        if os.path.exists(self.log_path):
            with open(self.log_path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        out.append(json.loads(line))
        return out
