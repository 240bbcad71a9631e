"""Source checks.

- The storage, lineage and cluster-state layers and the jobs build
  small driver-side frames with fsutil.local_frame, never with
  spark.createDataFrame over a Python list — that plan is a PythonRDD,
  which starts a Python-worker stage for every action on it.
  operators/clustering_replay.py is outside the checked set on
  purpose: it returns real replay rows computed in Python.
- The jobs take their session from session.job_session, never from
  SparkSession.builder, so the session settings every job needs (the
  generated-code cache size) have one home."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "tackle4losscontentextraction_spark")
JOBS = sorted(glob.glob(os.path.join(REPO, "jobs", "*.py")))
CHECKED = sorted(
    glob.glob(os.path.join(PKG, "sources", "*.py"))
    + [os.path.join(PKG, "operators", "merge.py"),
       os.path.join(PKG, "plans", "cluster_pipeline.py")]
    + JOBS
)


def _parse(path: str) -> ast.AST:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _create_dataframe_calls(path: str) -> list[int]:
    return [
        node.lineno for node in ast.walk(_parse(path))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def _session_builder_uses(path: str) -> list[int]:
    """Lines that read ``<anything>.builder`` off a name or attribute
    called SparkSession (``SparkSession.builder``,
    ``pyspark.sql.SparkSession.builder``)."""
    return sorted(
        node.lineno for node in ast.walk(_parse(path))
        if isinstance(node, ast.Attribute) and node.attr == "builder"
        and ((isinstance(node.value, ast.Name) and node.value.id == "SparkSession")
             or (isinstance(node.value, ast.Attribute) and node.value.attr == "SparkSession"))
    )


def test_checked_set_is_not_empty():
    assert len(CHECKED) >= 8
    assert all(os.path.isfile(p) for p in CHECKED)


def test_no_create_dataframe_in_driver_side_layers():
    found = {
        os.path.relpath(p, REPO): lines
        for p in CHECKED if (lines := _create_dataframe_calls(p))
    }
    assert not found, f"use fsutil.local_frame instead of createDataFrame: {found}"


def test_check_catches_a_call(tmp_path):
    p = tmp_path / "m.py"
    p.write_text("def f(spark):\n    return spark.createDataFrame([(1,)], 'a int')\n")
    assert _create_dataframe_calls(str(p)) == [2]


def test_jobs_take_their_session_from_session_py():
    assert len(JOBS) >= 6
    found = {os.path.relpath(p, REPO): lines
             for p in JOBS if (lines := _session_builder_uses(p))}
    assert not found, f"use session.job_session instead of SparkSession.builder: {found}"


def test_builder_check_catches_a_call(tmp_path):
    p = tmp_path / "job.py"
    p.write_text(
        "import pyspark.sql\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.appName('x').getOrCreate()\n"
        "other = pyspark.sql.SparkSession.builder.getOrCreate()\n"
        "fine = job_session('x')\n")
    assert _session_builder_uses(str(p)) == [3, 4]
