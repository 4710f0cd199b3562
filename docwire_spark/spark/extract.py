"""The distributed extraction job.

Pipeline (north-rule shape):

    pages(url, warc_ts, html, text, lang)
      -> byte-bounded scan splits (maxPartitionBytes and a small
         per-file open cost, see session.py; no pre-shuffle)
      -> map_batches(extract_batch)   # Arrow batches, no per-row Python
      -> results(url, mime, mime_confidence, extracted_text, spans,
                 meta, error, n_events, bytes_in, partition_id)
      -> metrics = groupBy(partition_id) aggregation
      -> checkpointed idempotent write sharded by url hash (lineage.py
         derives ``bucket`` from ``url`` at the commit boundary)

The same transform serves batch and streaming DataFrames.

Skew handling: a host-level salt key helper for host-grouped
operations (extraction itself shards by url hash, which is uniform;
hosts are only skewed when you group by them).

Scale notes (100 TB posture):
- only ``html`` + ``url`` are read by the extraction scan (column
  pruning: select before mapInArrow so parquet never materializes
  unused columns)
- oversized rows: the byte-bounded scan splits spread them, since a
  split holds fewer rows the bigger they are
- mapInArrow streams batches; per-batch Python cost is amortized over
  the Arrow transfer (no per-row pickling)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from docwire_spark.spark.lineage import DEFAULT_SHARDS  # noqa: F401
from docwire_spark.spark.session import map_batches

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", LongType()),
            StructField("end", LongType()),
            StructField("kind", StringType()),
        ]
    )
)

_BASE_FIELDS = [
    StructField("url", StringType()),
    StructField("mime", StringType()),
    StructField("mime_confidence", StringType()),
    StructField("extracted_text", StringType()),
    StructField("spans", SPAN_TYPE),
    StructField("meta_json", StringType()),
    StructField("error", StringType()),
    StructField("n_events", IntegerType()),
    StructField("bytes_in", LongType()),
    StructField("partition_id", IntegerType()),
]

RESULT_SCHEMA = StructType(_BASE_FIELDS)
RESULT_SCHEMA_BINARY = StructType(
    _BASE_FIELDS[:4] + [StructField("extracted_bytes", BinaryType())]
    + _BASE_FIELDS[4:]
)


#: exporter name -> result column (reference html_writer /
#: meta_data_writer / csv_writer renders, SURVEY.md §2.5)
EXPORT_COLUMNS = {
    "html": "extracted_html",
    "meta_text": "meta_text",
    "csv": "table_csv",
}


def _result_schema(
    with_binary: bool, with_main_content: bool, exports: tuple = ()
) -> StructType:
    base = RESULT_SCHEMA_BINARY if with_binary else RESULT_SCHEMA
    fields = list(base.fields)
    at = next(
        i for i, f in enumerate(fields) if f.name == "extracted_text"
    ) + 1
    if with_main_content:
        fields.insert(at, StructField("main_content", StringType()))
        at += 1
    for name in exports:
        fields.insert(at, StructField(EXPORT_COLUMNS[name], StringType()))
        at += 1
    return StructType(fields)


def _make_extract_batches(
    with_binary: bool,
    with_main_content: bool = False,
    exports: tuple = (),
    counters: dict | None = None,
):
    """``map_batches`` body factory: runs the pure-Python kernel per
    Arrow RecordBatch.  Arrow in/out directly (round 3: measured ~8% faster
    than the former mapInPandas path — the kernel needs Python bytes
    either way, but the pandas Series wrappers and the
    DataFrame->Arrow conversion of the wide result are pure
    overhead).  ``extracted_bytes`` is only materialized when
    requested — emitting it unconditionally doubles the Arrow transfer
    per row and the JVM-side conversion cost, which at high task
    concurrency starves the python workers (measured 4x end-to-end
    slowdown on a branch of oversized rows).

    Imports live inside so the function ships cleanly to executors via
    --py-files.
    """
    schema = _result_schema(with_binary, with_main_content, exports)

    def _extract_batches(iterator):
        from pyspark import TaskContext

        from docwire_spark.kernel.api import extract

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1

        for batch in iterator:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            n = len(urls)
            out = {f.name: [] for f in schema.fields}
            out["url"] = batch.column("url")
            out["partition_id"] = [pid] * n
            for url, html in zip(urls, htmls):
                data = html if html is not None else b""
                res = extract(
                    data, url=url or "",
                    want_main_content=with_main_content,
                    exports=exports,
                )
                out["mime"].append(res.mime)
                out["mime_confidence"].append(res.mime_confidence)
                out["extracted_text"].append(
                    res.text.decode("utf-8", "replace")
                )
                if with_main_content:
                    out["main_content"].append(res.main_content)
                for name in exports:
                    rendered = getattr(res, name)
                    out[EXPORT_COLUMNS[name]].append(
                        rendered.decode("utf-8", "replace")
                        if rendered is not None else None
                    )
                if with_binary:
                    out["extracted_bytes"].append(res.text)
                out["spans"].append(
                    [
                        {"start": s, "end": e, "kind": k}
                        for s, e, k in res.spans
                    ]
                )
                out["meta_json"].append(
                    json.dumps(res.meta, default=str, sort_keys=True)
                    if res.meta
                    else None
                )
                out["error"].append(res.error)
                out["n_events"].append(res.n_events)
                out["bytes_in"].append(len(data))
            if counters is not None:  # one update per Arrow batch
                counters["docs"].add(n)
                counters["bytes"].add(sum(out["bytes_in"]))
                counters["failed"].add(
                    sum(1 for e in out["error"] if e is not None)
                )
            yield out

    return _extract_batches


def extract_pages(
    pages: DataFrame,
    with_binary: bool = False,
    with_main_content: bool = False,
    exports: tuple = (),
    counters: dict | None = None,
) -> DataFrame:
    """Run the extraction pipeline over a batch or streaming
    ``pages(url, html, ...)`` DataFrame; returns the results DataFrame.

    No physical pre-shuffle: url-hash sharding is applied at the commit
    boundary (``lineage.CheckpointedWriter`` derives ``bucket`` from
    ``url``).  The parquet/Iceberg scan already yields byte-bounded
    splits (maxPartitionBytes), which balances per-task extraction cost
    BETTER than row-count-balanced hash shards, spreads the rare giant
    rows by byte budget, and never moves the raw html bytes across the
    cluster (measured: the 1.9 GB shuffle of a 600k-doc corpus cost
    more wall time than the entire 16-core extraction).  A repartition
    into hash shards would also give fixed-count partitions, which AQE
    does not coalesce, each paying the per-task cost.
    """
    src = pages.select("url", "html")
    schema = _result_schema(with_binary, with_main_content, exports)
    batch_fn = _make_extract_batches(
        with_binary, with_main_content, exports, counters
    )
    return map_batches(src, batch_fn, schema)


def salted_host_key(df: DataFrame, host_col: str = "host",
                    skew_threshold: int = 10_000, salt_buckets: int = 16,
                    url_col: str = "url") -> DataFrame:
    """Add a deterministic ``salted_host`` key for host-grouped work.

    Hosts with more than ``skew_threshold`` rows get ``salt_buckets``
    sub-keys (salt = xxhash64(url) % k, no randomness -> reproducible).
    The skew map is tiny (only hot hosts) and broadcast.
    """
    counts = (
        df.groupBy(host_col)
        .count()
        .filter(F.col("count") > skew_threshold)
        .select(host_col, F.lit(salt_buckets).alias("k_host"))
    )
    out = df.join(F.broadcast(counts), on=host_col, how="left")
    salt = F.when(
        F.col("k_host").isNotNull(),
        F.pmod(F.xxhash64(F.col(url_col)), F.col("k_host")),
    ).otherwise(F.lit(0))
    return out.withColumn(
        "salted_host", F.concat_ws("#", F.col(host_col), salt.cast("string"))
    ).drop("k_host")


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("host", F.parse_url(F.col(url_col), F.lit("HOST")))


def metrics_by_partition(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (reference analog:
    message_counters, here aggregated JVM-side by Catalyst)."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_failed"
            ),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("partition_id")
    )
