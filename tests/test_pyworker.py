"""pyworker.drop_spark_zip_importers, run where it is used: inside a
mapInArrow task, after PySpark's per-task ``importlib.invalidate_caches()``."""

from __future__ import annotations

import pyarrow as pa

from tackle4losscontentextraction_spark import pyworker

# a pyspark subpackage the Python workers do not import on their own
UNIMPORTED = "pyspark.sql.avro.functions"
_MARK = "_t4l_spark_zip_importers_dropped"
FIRST_SCHEMA = ("spark_zip_before long, dropped long, left long, file_finders long, "
                "file_finders_kept boolean, already_imported boolean, "
                "module_file string, archive_reads long")


def test_is_spark_archive():
    assert pyworker.is_spark_archive("spark-home/python/lib/pyspark.zip")
    assert pyworker.is_spark_archive("spark-home/python/lib/py4j-0.10.9.9-src.zip")
    assert pyworker.is_spark_archive("spark-home/jars/spark-core_2.13-4.1.2.jar")
    # user --py-files archives keep their refresh semantics
    assert not pyworker.is_spark_archive("local-dir/userFiles-1/t4l.zip")
    assert not pyworker.is_spark_archive("local-dir/userFiles-1/deps.egg")


def test_drop_spark_zip_importers_inside_a_task(spark):
    # the task bodies are nested so that they are shipped by value

    def finders(kind):
        import sys
        return {k: f for k, f in sys.path_importer_cache.items() if isinstance(f, kind)}

    def first_task(batches):
        import importlib
        import os
        import sys
        import zipimport
        from importlib.machinery import FileFinder

        for _ in batches:
            pass
        # a reused worker may have had its importers dropped by an
        # earlier kernel: put one back for every Spark archive on the
        # path (from the cached archive directory), as a fresh worker has
        for entry in sys.path:
            if pyworker.is_spark_archive(entry) and os.path.isfile(entry):
                sys.path_importer_cache[entry] = zipimport.zipimporter(entry)
        spark_zip = [f for f in finders(zipimport.zipimporter).values()
                     if pyworker.is_spark_archive(f.archive)]
        file_finders = set(finders(FileFinder))
        dropped = pyworker.drop_spark_zip_importers()
        left = [f for f in finders(zipimport.zipimporter).values()
                if pyworker.is_spark_archive(f.archive)]
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            already = UNIMPORTED in sys.modules
            mod = importlib.import_module(UNIMPORTED)
        finally:
            zipimport._read_directory = read_directory
        setattr(sys, _MARK, True)
        yield pa.RecordBatch.from_pylist([{
            "spark_zip_before": len(spark_zip), "dropped": dropped, "left": len(left),
            "file_finders": len(file_finders),
            "file_finders_kept": file_finders <= set(finders(FileFinder)),
            "already_imported": already, "module_file": mod.__file__,
            "archive_reads": len(reads),
        }])

    def later_task(batches):
        import sys

        pyworker.drop_spark_zip_importers()
        total = sum(b.column(0).to_numpy().sum() for b in batches)
        yield pa.RecordBatch.from_pylist([{
            "same_worker": bool(getattr(sys, _MARK, False)), "total": int(total)}])

    (r,) = spark.range(0, 1, 1, 1).mapInArrow(first_task, FIRST_SCHEMA).collect()
    # the worker imports pyspark from Spark's archives, so there was
    # something to drop, and after the helper nothing of it is left
    assert r.spark_zip_before > 0 and r.dropped == r.spark_zip_before
    assert r.left == 0
    # the directory finders (SparkFiles, site-packages) stay
    assert r.file_finders > 0 and r.file_finders_kept
    # a pyspark subpackage first imported after the drop still comes
    # from pyspark.zip, and its importers are rebuilt from the cached
    # archive directory, not by reading the archive again
    assert not r.already_imported
    assert "pyspark.zip" in r.module_file
    assert r.archive_reads == 0

    # later tasks on a worker whose importers were dropped still run
    later = []
    for _ in range(20):
        (row,) = spark.range(0, 10, 1, 1).mapInArrow(
            later_task, "same_worker boolean, total long").collect()
        later.append(row)
        if row.same_worker:
            break
    assert all(row.total == 45 for row in later)
    assert later[-1].same_worker
