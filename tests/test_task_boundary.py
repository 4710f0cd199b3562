"""The Spark task layer around the kernel: what a Python task pays
before its first row (zip directory re-reads), the one Arrow boundary
every batch kernel goes through, and how a small scan is split across
the cores (the per-file open cost)."""

import ast
import os
import random
import uuid
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from docwire_spark.spark.session import SCAN_CONF


def test_no_zip_importer_survives_invalidate_caches(spark, tmp_path):
    """After ``drop_zip_importers`` a task's ``invalidate_caches()``
    finds no zipimporter to re-read, and a module from a shipped zip
    still imports."""
    tag = uuid.uuid4().hex[:12]
    first, second = f"zipprobe_a_{tag}", f"zipprobe_b_{tag}"
    zpath = tmp_path / f"zipprobe_{tag}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{first}.py", "VALUE = 1\n")
        zf.writestr(f"{second}.py", "VALUE = 2\n")
    spark.sparkContext.addPyFile(str(zpath))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from docwire_spark.spark.session import drop_zip_importers

        def zip_finders():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        for _ in batches:
            pass
        a = importlib.import_module(first).VALUE  # caches zip finders
        before = zip_finders()
        drop_zip_importers()
        importlib.invalidate_caches()
        after = zip_finders()
        b = importlib.import_module(second).VALUE
        yield pa.RecordBatch.from_pylist(
            [{"before": before, "after": after, "a": a, "b": b}]
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "before long, after long, a long, b long")
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert r.before > 0
    assert r.after == 0
    assert (r.a, r.b) == (1, 2)


def _udf_calls():
    """(path, called name, outermost enclosing function) for every call
    of ``mapInPandas``, ``applyInPandas``, ``applyInPandasWithState``,
    ``mapInArrow`` or ``drop_zip_importers`` in the package and job
    sources."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = {"mapInPandas", "applyInPandas", "applyInPandasWithState",
             "mapInArrow", "drop_zip_importers"}
    calls = []
    for top in ("docwire_spark", "jobs"):
        for dirpath, _dirs, files in os.walk(os.path.join(root, top)):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                rel = os.path.relpath(path, root)
                for outer in tree.body:
                    owner = getattr(outer, "name", None)
                    for node in ast.walk(outer):
                        if not isinstance(node, ast.Call):
                            continue
                        func = node.func
                        name = getattr(func, "attr", getattr(func, "id", None))
                        if name in names:
                            calls.append((rel, name, owner))
    return calls


def test_one_arrow_boundary():
    """Every Python batch kernel goes through ``session.map_batches``:
    no pandas UDF (``mapInPandas``, ``applyInPandas``,
    ``applyInPandasWithState``), ``mapInArrow`` only inside the helper,
    and the zip finders dropped only by the helper and the one task
    body that has no Arrow-map form (the ``foreachPartition`` sink)."""
    calls = _udf_calls()
    session = os.path.join("docwire_spark", "spark", "session.py")
    pandas_udfs = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
    assert [c for c in calls if c[1] in pandas_udfs] == []
    assert [c for c in calls if c[1] == "mapInArrow"] == [
        (session, "mapInArrow", "map_batches")
    ]
    assert sorted(c for c in calls if c[1] == "drop_zip_importers") == sorted([
        (session, "drop_zip_importers", "map_batches"),
        (os.path.join("docwire_spark", "spark", "post_sink.py"),
         "drop_zip_importers", "post_rows"),
    ])


def test_small_file_splits_feed_every_core(spark, tmp_path):
    """One parquet file smaller than cores x 4 MB (Spark's default
    per-file open cost) with 4 row groups per core gives rows to every
    one of ``defaultParallelism`` scan partitions under the session's
    scan settings."""
    cores = spark.sparkContext.defaultParallelism
    n_groups, rows_per_group, row_bytes = 4 * cores, 16, 8192
    rng = random.Random(5)
    n = n_groups * rows_per_group
    table = pa.table({
        "id": pa.array(range(n), pa.int64()),
        # incompressible: the file is ~n x row_bytes on disk
        "blob": pa.array([rng.randbytes(row_bytes) for _ in range(n)],
                         pa.binary()),
    })
    path = str(tmp_path / "one_file.parquet")
    pq.write_table(table, path, row_group_size=rows_per_group,
                   compression="none")
    assert pq.ParquetFile(path).num_row_groups == n_groups
    assert n * row_bytes < cores * 4 * 1024 * 1024

    saved = {k: spark.conf.get(k, None) for k in SCAN_CONF}
    try:
        for k, v in SCAN_CONF.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(path)
        per_partition = dict(
            df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        )
        n_partitions = df.rdd.getNumPartitions()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert n_partitions == cores
    assert sorted(per_partition) == list(range(cores)), per_partition
    assert sum(per_partition.values()) == n
