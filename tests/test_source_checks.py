"""Source checks: the storage, lineage and cluster-state layers and the
jobs build small driver-side frames with fsutil.local_frame, never with
spark.createDataFrame over a Python list — that plan is a PythonRDD,
which starts a Python-worker stage for every action on it.
operators/clustering_replay.py is outside the checked set on purpose:
it returns real replay rows computed in Python."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "tackle4losscontentextraction_spark")
CHECKED = sorted(
    glob.glob(os.path.join(PKG, "sources", "*.py"))
    + [os.path.join(PKG, "operators", "merge.py"),
       os.path.join(PKG, "plans", "cluster_pipeline.py")]
    + glob.glob(os.path.join(REPO, "jobs", "*.py"))
)


def _create_dataframe_calls(path: str) -> list[int]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


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
