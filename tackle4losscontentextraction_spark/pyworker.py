"""Python-worker set-up cost: Spark's cached zip importers.

Every task that runs in a Python worker first calls PySpark's
``worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()`` so that files newly shipped to the
SparkFiles directory become importable. On CPython 3.11 that call makes
every cached ``zipimport.zipimporter`` re-read its archive's central
directory. A worker holds one such importer per package it imported
from Spark's own archives on its path (``pyspark.zip``,
``py4j-*-src.zip``, the spark-core jar): 16 in a worker of the composed
job (Spark 4.1). Re-reading the jar's 5,359-entry directory takes
~20–35 ms per importer and pyspark.zip's ~5–8 ms, so the invalidation
costs 0.11–0.24 s per task (measured inside tasks, 4-core VM).

:func:`drop_spark_zip_importers` removes exactly those importers from
``sys.path_importer_cache``, so the next task's invalidation has
nothing of them to re-read. Spark's archives do not change while a
worker lives, and ``zipimport._zip_directory_cache`` keeps each
archive's directory, so a later import from one of them rebuilds its
importer without reading the archive again. ``FileFinder`` entries (the
SparkFiles directory) and user ``--py-files`` archives are left alone:
their refresh is what the per-task invalidation is for.

Call it at the top of a ``mapInArrow`` / ``mapInPandas`` kernel body.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipimport

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "*.jar")


def is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return any(fnmatch.fnmatchcase(name, pat) for pat in _SPARK_ARCHIVES)


def drop_spark_zip_importers() -> int:
    """Delete every zip importer over a Spark archive from
    ``sys.path_importer_cache``; returns how many were dropped."""
    stale = [key for key, finder in list(sys.path_importer_cache.items())
             if isinstance(finder, zipimport.zipimporter)
             and is_spark_archive(finder.archive)]
    for key in stale:
        sys.path_importer_cache.pop(key, None)
    return len(stale)
