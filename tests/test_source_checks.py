"""Source checks.

- The storage, lineage and cluster-state layers and the jobs build
  small driver-side frames with fsutil.local_frame, never with
  spark.createDataFrame over a Python list — that plan is a PythonRDD,
  which starts a Python-worker stage for every action on it.
  operators/clustering_replay.py is outside the checked set on
  purpose: it returns real replay rows computed in Python.
- The jobs take their session from session.job_session, never from
  SparkSession.builder, so the session settings every job needs (the
  generated-code cache size) have one home.
- The jobs hold no commit code: they neither publish files
  (fsutil.publish_file / write_text) nor parse cluster-state marker
  names (``committed-v``); the commit protocol (fsutil.VersionLog) is
  called only from the library.
- The bench helpers ``_load1``, ``_code_key`` and ``_count_rows`` are
  defined once, in bench.py (perfbench keeps its own code key), and
  every script the harvester's one-shots name exists.
- The package and the jobs start threads only through
  session.concurrently, which starts them so that their Spark jobs
  keep the caller's job group."""

from __future__ import annotations

import ast
import glob
import os
import sys

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


def _commit_code(path: str) -> list[int]:
    """Lines that call ``publish_file``/``write_text`` (as a name or an
    attribute) or hold a ``committed-v`` string outside a docstring."""
    tree = _parse(path)
    docstrings = {id(n.value) for n in ast.walk(tree)
                  if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)}
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in ("publish_file", "write_text"):
                lines.add(node.lineno)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and "committed-v" in node.value and id(node) not in docstrings):
            lines.add(node.lineno)
    return sorted(lines)


def test_jobs_hold_no_commit_code():
    found = {os.path.relpath(p, REPO): lines
             for p in JOBS if (lines := _commit_code(p))}
    assert not found, f"commit through the library (fsutil.VersionLog callers): {found}"


def test_commit_check_catches_a_call(tmp_path):
    p = tmp_path / "job.py"
    p.write_text(
        '"""Writes cluster_state/committed-v<N> through the library."""\n'
        "from tackle4losscontentextraction_spark import fsutil\n"
        "from tackle4losscontentextraction_spark.fsutil import publish_file\n"
        "fsutil.write_text(spark, tmp, '0')\n"
        "publish_file(spark, tmp, dst)\n"
        "live = [n for n in names if n.startswith('committed-v')]\n"
        "marker = f'{state}/committed-v{ver}'\n"
        "fine = cluster_pipeline.commit_state(spark, state, 1, c, m)\n")
    assert _commit_code(str(p)) == [4, 5, 6, 7]


BENCH_HELPERS = ("_load1", "_code_key", "_count_rows")


def _helper_defs(path: str) -> list[str]:
    return sorted(node.name for node in ast.walk(_parse(path))
                  if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and node.name in BENCH_HELPERS)


def test_bench_helpers_are_defined_only_in_bench_py():
    scripts = [p for p in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True)
               if os.path.relpath(p, REPO).split(os.sep)[0] != "perfbench"]
    found = {os.path.relpath(p, REPO): names
             for p in scripts if (names := _helper_defs(p))}
    assert found == {"bench.py": sorted(BENCH_HELPERS)}, \
        f"import the bench helpers from bench.py: {found}"


def test_helper_check_catches_a_copy(tmp_path):
    # the names are spliced in, so that a grep for their definitions
    # lists only bench.py
    p = tmp_path / "tool.py"
    p.write_text(
        "from bench import _code_key\n"
        "def %s():\n    return 0.0\n"
        "class Leg:\n    def %s(self, df):\n        return df.count()\n"
        % ("_load1", "_count_rows"))
    assert _helper_defs(str(p)) == ["_count_rows", "_load1"]


def test_harvest_oneshots_name_existing_scripts():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import harvest
    finally:
        sys.path.pop(0)
    assert harvest.ONESHOTS
    assert {tag for tag, _, _ in harvest.ONESHOTS} == set(harvest.ONESHOT_PENDING)
    missing = [argv[0] for _, argv, _ in harvest.ONESHOTS
               if not os.path.isfile(os.path.join(REPO, argv[0]))]
    assert not missing, f"harvest one-shots name missing scripts: {missing}"


THREAD_MAKERS = ("Thread", "InheritableThread", "ThreadPoolExecutor")


def _thread_makers(path: str) -> list[tuple[str | None, int]]:
    """(outermost enclosing function or None, line) of every call that
    creates a thread or a thread pool, as a name or an attribute."""
    found = []

    def visit(node: ast.AST, func: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in THREAD_MAKERS:
                    found.append((func, child.lineno))
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, func or (child.name if inner else None))

    visit(_parse(path), None)
    return sorted(found, key=lambda x: x[1])


def test_threads_start_only_in_session_concurrently():
    files = JOBS + glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    found = {os.path.relpath(p, REPO): sorted({f for f, _ in hits})
             for p in files if (hits := _thread_makers(p))}
    assert found == {"tackle4losscontentextraction_spark/session.py": ["concurrently"]}, \
        f"start threads through session.concurrently: {found}"


def test_thread_check_catches_a_thread(tmp_path):
    p = tmp_path / "job.py"
    p.write_text(
        "import threading\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from pyspark.util import InheritableThread\n"
        "def main():\n"
        "    def branch():\n"
        "        t = threading.Thread(target=print)\n"
        "    with ThreadPoolExecutor(2) as pool:\n"
        "        pool.submit(print)\n"
        "t = InheritableThread(print)\n"
        "fine = session.concurrently(spark, print)\n")
    assert _thread_makers(str(p)) == [("main", 6), ("main", 7), (None, 9)]
