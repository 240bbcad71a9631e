"""Filesystem helper for the COW-merge / lineage layers.

The storage operators (operators/merge.py, sources/lineage.py) need
three tiny metadata operations: "does this directory exist", "list a
directory", "delete a directory tree". Using ``os.path``/``shutil``
for those works only on a local filesystem; on a real cluster the
table lives on HDFS/S3/GCS. This module routes all three through the
JVM's Hadoop FileSystem API (``spark._jvm.org.apache.hadoop.fs``), so
the exact same code runs against ``file:``, ``hdfs:``, ``s3a:`` etc. —
the scheme is resolved per-path from the active Hadoop configuration.

All calls are driver-side, O(1) or O(dir entries) metadata RPCs — never
data movement.

:class:`VersionLog` is the one commit protocol of the job's state:
table MERGE manifests, the extraction lineage, the cluster-state marker.

The same layers also turn small driver-side row lists (empty typed
tables, for one) into DataFrames; :func:`local_frame` does that as
a JVM-local plan, so no Python worker starts for it.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of a directory ([] if it doesn't exist)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]

def delete_dir(spark: SparkSession, path: str) -> bool:
    """Recursive delete, ignore-missing (shutil.rmtree ignore_errors
    analog). Returns True if something was deleted."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_and_path(spark, path)
    fs.mkdirs(p)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create (overwrite) a small text file — manifest-sized payloads
    only; goes through FSDataOutputStream so it works on any scheme."""
    fs, p = _fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        jvm = spark._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def publish_file(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomically publish a fully-written file at ``dst`` with
    create-no-overwrite semantics: returns True and ``dst`` appears
    with complete content, or returns False because ``dst`` already
    exists (the optimistic-concurrency loss signal).  Never partially
    publishes.

    - resolved FS ``file:`` — java.nio ``Files.createLink`` (POSIX
      link(2)): kernel-atomic EEXIST, no TOCTOU, dst carries src's full
      content the instant it exists; src is unlinked afterwards.
    - other resolved schemes — ``FileSystem.rename``: atomic and
      no-overwrite on HDFS (and object-store committers emulate it).
      (Hadoop's local rename is File.renameTo, which on POSIX silently
      replaces an existing dst — hence the link(2) branch above.)
    """
    fs, p_src = _fs_and_path(spark, src)
    _, p_dst = _fs_and_path(spark, dst)
    # Dispatch on the RESOLVED filesystem's scheme, not the raw path's:
    # a scheme-less path ("/warehouse/t") has URI scheme None even when
    # fs.defaultFS routes it to HDFS/S3 — the raw scheme would wrongly
    # take the local-link branch there and fail every publish.
    scheme = fs.getUri().getScheme()
    if scheme == "file":
        # local paths may still be scheme-less; qualify before toUri()
        p_src = fs.makeQualified(p_src)
        p_dst = fs.makeQualified(p_dst)
        jvm = spark._jvm
        # java.io.File(...).toPath() instead of Paths.get: Py4J cannot
        # dispatch the latter's (String, String...) varargs signature
        try:
            jvm.java.nio.file.Files.createLink(
                jvm.java.io.File(p_dst.toUri().getPath()).toPath(),
                jvm.java.io.File(p_src.toUri().getPath()).toPath(),
            )
        except Exception as e:  # Py4JJavaError wrapping the nio exception
            if "FileAlreadyExistsException" in str(e):
                return False
            raise
        fs.delete(p_src, False)
        return True
    if fs.exists(p_dst):
        return False
    return bool(fs.rename(p_src, p_dst))


@dataclass(frozen=True)
class VersionLog:
    """Versions ``N`` published as ``<directory>/<prefix><N><suffix>``.

    A writer writes its data where no published version points, then
    publishes ``N``: a text file staged under a writer-unique hidden
    name and moved into place by :func:`publish_file`, so it appears
    whole or not at all, and only one writer gets any ``N`` (the loser
    sees False). Readers take the largest ``N`` (:meth:`latest`), so a
    kill anywhere before the publish leaves ``N-1`` live."""

    directory: str
    prefix: str
    suffix: str = ""

    def path(self, n: int) -> str:
        return f"{self.directory}/{self.prefix}{n}{self.suffix}"

    def version_of(self, name: str) -> int | None:
        """``N`` of a published entry's file name; None for any other
        name (staged files, data directories)."""
        n = name[len(self.prefix):len(name) - len(self.suffix)]
        ok = name.startswith(self.prefix) and name.endswith(self.suffix)
        return int(n) if ok and n.isascii() and n.isdigit() else None

    def versions(self, spark: SparkSession) -> list[int]:
        """Published versions, ascending ([] for a missing directory)."""
        return sorted(n for name in list_names(spark, self.directory)
                      if (n := self.version_of(name)) is not None)

    def latest(self, spark: SparkSession) -> int | None:
        ids = self.versions(spark)
        return ids[-1] if ids else None

    def read(self, spark: SparkSession, n: int) -> str:
        return read_text(spark, self.path(n))

    def publish(self, spark: SparkSession, n: int, text: str) -> bool:
        """Publish version ``n`` as ``text``; False, leaving nothing of
        this writer's behind, when ``n`` is already published."""
        mkdirs(spark, self.directory)
        tmp = f"{self.directory}/.tmp-{uuid.uuid4().hex[:12]}-{self.prefix}{n}{self.suffix}"
        write_text(spark, tmp, text)
        if publish_file(spark, tmp, self.path(n)):
            return True
        delete_dir(spark, tmp)
        return False


# types whose values JSON carries exactly: from_json reads back the
# same number, boolean or string; dates and decimals travel as their
# text (ISO date, Python's decimal string), which from_json parses
# exactly
_JSON_SCALARS = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
                 T.LongType, T.DoubleType, T.StringType)


def _json_value(value, dtype: T.DataType):
    """One Python value as the JSON value ``from_json`` reads back as
    exactly ``value`` of ``dtype``; TypeError for a type JSON cannot
    carry exactly (float, timestamps, binary, maps, ...)."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return {f.name: _json_value(v, f.dataType)
                for v, f in zip(value, dtype.fields, strict=True)}
    if isinstance(dtype, T.ArrayType):
        return [_json_value(v, dtype.elementType) for v in value]
    if isinstance(dtype, (T.DateType, T.DecimalType)):
        return str(value)
    if isinstance(dtype, _JSON_SCALARS):
        return value
    raise TypeError(f"local_frame cannot carry {dtype.simpleString()} values "
                    "exactly through JSON")


def local_frame(spark: SparkSession, rows: list, schema: str | T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for small driver-side
    lists, planned in the JVM: ``inline(from_json(<one JSON literal>))``
    over a one-row ``range``. createDataFrame ships a list through a
    PythonRDD, so every action on it starts a Python-worker stage; this
    plan starts none, and it is built in a fixed ~20 py4j calls whatever
    the row count (a Column tree of one ``lit`` per value cost ~35
    calls per value: 1,652 for a 16x3 frame). Rows
    and struct values are positional sequences (tuples); every column
    comes back nullable; FAILFAST parsing makes a value that does not
    fit its type an error, not a NULL. The JSON text is embedded in the
    plan, so keep the list small."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    text = json.dumps([_json_value(r, schema) for r in rows])
    return spark.range(0, 1, 1, 1).select(F.inline(F.from_json(
        F.lit(text), T.ArrayType(schema), {"mode": "FAILFAST"})))
