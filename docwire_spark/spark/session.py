"""SparkSession construction with the engine's standard tuning, and the
one Arrow boundary (:func:`map_batches`) every Python batch kernel runs
through.

Scale posture (for a multi-executor cluster; local[N] here is a
single-JVM proxy):
- AQE on (runtime re-plan + skew-join splitting)
- Arrow batches bounded so one batch of large HTML rows stays inside
  executor memory
- scan splits: ``maxPartitionBytes`` (128 MiB) caps the split size, and
  the per-file open cost is 64 KiB (Spark's default is 4 MiB).  Spark
  sizes splits as (input bytes + files x open cost) / cores, so on a
  small input the default charge, costed for JVM scan speed, leaves
  cores without rows: a 14.5 MB parquet file of 16 row groups on 4 cores
  split into [1410, 1410, 1680, 0] rows.  This engine parses ~5 MB/s
  per core, so the bytes it handles in the time a file takes to open
  are tens of KiB; at 64 KiB the same file splits [1128, 1128, 1128,
  1116].  At scale nothing changes: the 128 MiB cap sets the split.
- zip finders: PySpark calls ``importlib.invalidate_caches()`` at the
  start of every task, and on CPython 3.11 every ``zipimporter`` in
  ``sys.path_importer_cache`` then re-reads its whole archive directory
  (a worker holds 17-19: prefixes of pyspark.zip, the spark-core jar,
  py4j and the shipped package zip; ~0.2 CPU-s per task before a row
  is read).  :func:`drop_zip_importers` removes them; an import
  that needs one builds a new finder from the directory already cached
  in ``zipimport``, which is what CPython 3.13's ``invalidate_caches``
  does itself.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ARROW_MAX_RECORDS = 512  # HTML rows are fat; bound the Arrow batch row count

#: scan-split settings, see the module docstring
SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(64 * 1024),
}


def drop_zip_importers() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache`` so
    the next task's ``importlib.invalidate_caches()`` re-reads no zip
    directory.  :func:`map_batches` calls it at the start of every
    task; the package's one other Python task body (the
    ``foreachPartition`` sink in ``post_sink``) calls it first
    itself."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def map_batches(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """``df.mapInArrow`` with the package's per-task set-up: the one
    place the package hands Python a partition of Arrow batches.

    ``fn`` takes the task's iterator of ``pa.RecordBatch`` and yields,
    per output batch, a mapping of output column name to a list, numpy
    array or ``pa.Array``; each batch is built against the Arrow form
    of ``schema`` (a ``StructType`` or a DDL string).  Before ``fn``
    runs, the task drops the zip finders (:func:`drop_zip_importers`).
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)

    def run(batches):
        drop_zip_importers()
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for cols in fn(batches):
            arrays = []
            for f in arrow_schema:
                v = cols[f.name]
                arrays.append(
                    v if isinstance(v, pa.Array) else pa.array(v, f.type)
                )
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return df.mapInArrow(run, schema)


def package_zip(path: str | None = None) -> str:
    """Zip the docwire_spark package for --py-files / addPyFile.

    The default path is content-addressed: a digest of the package's
    sources names the zip, in a directory private to the user under
    the temp dir.  An edited package gets a new file, an unchanged one
    is not zipped again, and two checkouts never overwrite each other's
    zip."""
    import docwire_spark

    pkg_dir = os.path.dirname(os.path.abspath(docwire_spark.__file__))
    sources = []  # (name in the zip, file path)
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "docwire_spark", os.path.relpath(full, pkg_dir)
                )
                sources.append((rel, full))
    sources.sort()
    if path is None:
        digest = hashlib.sha256()
        for rel, full in sources:
            with open(full, "rb") as f:
                data = f.read()
            digest.update(f"{rel}\0{len(data)}\0".encode() + data)
        zip_dir = os.path.join(tempfile.gettempdir(),
                               f"docwire_spark_pyfiles_{os.getuid()}")
        os.makedirs(zip_dir, mode=0o700, exist_ok=True)
        path = os.path.join(
            zip_dir, f"docwire_spark_{digest.hexdigest()[:16]}.zip"
        )
        if os.path.exists(path):
            return path
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, full in sources:
            zf.write(full, rel)
    os.replace(tmp, path)  # readers never see a partial zip
    return path


def ship_package(spark: SparkSession) -> None:
    """Make docwire_spark importable on executors regardless of the
    driver's cwd (equivalent of spark-submit --py-files).  Ships once
    per SparkContext: Spark refuses to add the same path twice."""
    sc = spark.sparkContext
    path = package_zip()
    name = os.path.basename(path)
    if not any(os.path.basename(uri) == name for uri in sc.listFiles):
        sc.addPyFile(path)


def default_cpus() -> int:
    """Cores this process may run on (``nproc``): the default local
    master width when ``SPARK_GRAFT_CPUS`` is unset."""
    return len(os.sched_getaffinity(0))


def build_session(
    master: str | None = None,
    app_name: str = "docwire_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # PYSPARK_GATEWAY_PORT is set only when spark-submit's
        # PythonRunner launched this process — there, --master arrived
        # with the JVM and must not be overridden; plain `python
        # job.py` still defaults to local[N]
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else default_cpus()
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # WARC-Date serialization and the DuckDB oracles assume UTC
        # wall times end-to-end; pin it so a host with a local zone
        # can't shift timestamp roundtrips
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEMORY", "6g"))
        # G1's humongous-object path collapses under the steady stream
        # of row/Arrow byte[] allocations this workload produces
        # (measured on a 600k-doc extraction: 131s G1 vs 58s Parallel
        # at local[16]); throughput GC fits a batch engine
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
    )
    # spark.sql.icu.caseMappings.enabled keeps Spark's default (ICU):
    # the JVM's own case tables change BPE_EXPR tokens on 67 code
    # points (tests/test_case_mappings.py).  ICU loads on the first
    # lower() in a JVM; the [a-z0-9]+ tokenizer (ops.common.tokens_expr)
    # never calls lower(), so run_pipeline never loads it
    for k, v in {**SCAN_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark
