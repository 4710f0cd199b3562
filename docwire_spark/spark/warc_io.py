"""Distributed WARC/WET ingest + export for the pages table.

Scale shape (the Common-Crawl processing pattern):

- A crawl segment is ~10^5 ``.warc.gz`` files of ~1 GiB; the unit of
  read parallelism is the FILE (gzip is not block-splittable, but a
  100k-file listing is 100k independent tasks — plenty for any
  cluster).  ``read_warc`` distributes the *paths* and each task
  STREAMS its file record-by-record through
  ``kernel.warc.iter_warc_records`` inside ``map_batches``, emitting
  bounded Arrow batches — per-task memory is one record + one batch,
  never one file, so a 1 GiB WARC and a 1 MiB WARC cost the same
  resident memory.
- ``write_warc`` / ``write_wet`` hash- or range-partition the rows,
  then each task serializes ITS partition to exactly one
  ``part-{pid:05d}.warc.gz`` and returns a manifest row.  Each record
  is its own gzip member (record-addressable; the returned CDX extents
  prove it) and every byte is deterministic (uuid5 ids, mtime=0 gzip),
  so re-running the export over the same partitioning yields
  byte-identical files — the property the merge-on-read commit layer
  (spark/lineage.py) needs for idempotent replay.

No per-row Python ever crosses the JVM boundary row-at-a-time: both
directions are Arrow-batched (north-rule: "vectorized Arrow UDFs (no
per-row Python)").
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from docwire_spark.spark.session import map_batches

#: timestamp stamped on records whose warc_ts is NULL (WARC-Date is a
#: mandatory header; epoch marks "unknown" without inventing a time)
_EPOCH = _dt.datetime(1970, 1, 1)

READ_SCHEMA = (
    "warc_file string, warc_offset bigint, warc_length bigint, "
    "warc_type string, url string, warc_ts timestamp, http_status int, "
    "mime string, payload binary, payload_digest string"
)

MANIFEST_SCHEMA = (
    "warc_file string, n_records bigint, n_bytes bigint, "
    "first_offset bigint, last_offset bigint"
)

_BATCH_ROWS = 256


def _list_warc_files(path: str) -> list[str]:
    """Expand a directory (or single file) into a sorted file list.
    At real scale this is the segment manifest read (a few hundred KiB
    of paths) — driver-side by design, like any file listing."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith((".warc", ".warc.gz", ".wet", ".wet.gz"))
        )
    return [path]


def read_warc(spark: SparkSession, path: str,
              keep_types: tuple[str, ...] = ("response", "conversion"),
              ) -> DataFrame:
    """Pages-table-shaped DataFrame from WARC/WET files under ``path``.

    Columns: (warc_file, warc_offset, warc_length, warc_type, url,
    warc_ts, http_status, mime, payload, payload_digest).  For
    ``response`` records the payload is the HTTP body (the html bytes);
    for ``conversion`` (WET) records it is the plain text block.
    warcinfo/request/metadata records are dropped unless asked for."""
    files = _list_warc_files(path)
    paths = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(max(1, len(files)), "path")

    keep = set(keep_types)

    def scan(batches):
        import pandas as pd

        from docwire_spark.kernel.warc import (
            iter_warc_records, split_http_response,
        )

        cols = ("warc_file", "warc_offset", "warc_length", "warc_type",
                "url", "warc_ts", "http_status", "mime", "payload",
                "payload_digest")
        rows: list[tuple] = []
        for batch in batches:
            for p in batch.column("path").to_pylist():
                compressed = p.endswith(".gz")
                with open(p, "rb") as fh:
                    for off, length, rec in iter_warc_records(fh, compressed):
                        f = rec["fields"]
                        rtype = f.get("WARC-Type", "")
                        if rtype not in keep:
                            continue
                        block = rec["block"]
                        if rtype == "response":
                            status, hh, payload = split_http_response(block)
                            mime = hh.get("content-type", "").split(";")[0]
                        else:
                            status, payload = 200, block
                            mime = f.get("Content-Type", "text/plain")
                        # no stdlib parse accepts exactly what this one
                        # does (fromisoformat rejects "2024" and keeps
                        # years pandas coerces to NaT); a missing
                        # WARC-Date comes back None, a malformed one NaT
                        ts = pd.to_datetime(
                            f.get("WARC-Date"), utc=True, errors="coerce"
                        )
                        rows.append((
                            os.path.basename(p), off, length, rtype,
                            f.get("WARC-Target-URI", ""),
                            None if pd.isna(ts) else ts,
                            status, mime, payload,
                            f.get("WARC-Payload-Digest", ""),
                        ))
                        if len(rows) >= _BATCH_ROWS:
                            yield dict(zip(cols, zip(*rows)))
                            rows = []
        if rows:
            yield dict(zip(cols, zip(*rows)))

    return map_batches(paths, scan, READ_SCHEMA)


def _export(df: DataFrame, out_dir: str, n_files: int, kind: str,
            text_col: str | None) -> DataFrame:
    """Shared writer: kind='warc' wraps (url, warc_ts, html) rows as
    HTTP response records; kind='wet' wraps (url, warc_ts, <text_col>)
    as conversion records."""
    os.makedirs(out_dir, exist_ok=True)
    ext = "warc.gz" if kind == "warc" else "wet.gz"

    # hash-partition (deterministic record->file assignment, unlike
    # repartitionByRange whose sampled boundaries can vary run-to-run)
    # + in-file url order => byte-identical files on re-run.
    part = df.repartition(n_files, "url").sortWithinPartitions("url")

    def write_part(batches):
        from pyspark import TaskContext

        from docwire_spark.kernel.warc import (
            build_conversion_record, build_response_record, build_warcinfo,
            write_warc_file,
        )

        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}.{ext}"
        path = os.path.join(out_dir, fname)
        base_ts = None
        records: list[bytes] = []
        n = 0
        for batch in batches:
            for row in batch.to_pylist():
                # NULL-tolerant: one degenerate row (NULL html/text/ts/
                # url) must never kill a 10^5-file export job — it
                # becomes an empty-payload record instead.
                ts = row["warc_ts"] or _EPOCH
                if base_ts is None:
                    base_ts = ts
                url = row["url"] if row["url"] is not None else ""
                if kind == "warc":
                    payload = row["html"] if row["html"] is not None else b""
                    records.append(build_response_record(url, ts, payload))
                else:
                    v = row[text_col]
                    payload = ("" if v is None else str(v)).encode("utf-8")
                    records.append(
                        build_conversion_record(url, ts, payload)
                    )
                n += 1
        if not n:
            return  # empty partition -> no file, no manifest row
        head = build_warcinfo(fname, base_ts)
        extents = write_warc_file(path, [head] + records, compress=True)
        total = extents[-1][0] + extents[-1][1]
        yield {"warc_file": [fname], "n_records": [n], "n_bytes": [total],
               "first_offset": [extents[1][0]],
               "last_offset": [extents[-1][0]]}

    return map_batches(part, write_part, MANIFEST_SCHEMA)


def write_warc(pages: DataFrame, out_dir: str, n_files: int = 8) -> DataFrame:
    """Export (url, warc_ts, html) rows as ``part-*.warc.gz`` files;
    returns the manifest DataFrame (one row per file).  The write
    happens when the manifest is consumed (collect/count)."""
    return _export(pages.select("url", "warc_ts", "html"),
                   out_dir, n_files, "warc", None)


def write_wet(pages: DataFrame, out_dir: str, n_files: int = 8,
              text_col: str = "text") -> DataFrame:
    """Export extracted text as WET ``conversion`` records."""
    return _export(pages.select("url", "warc_ts", text_col),
                   out_dir, n_files, "wet", text_col)
