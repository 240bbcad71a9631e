"""The composed job's two branches.

jobs/run_pipeline.py runs its doc-table MERGE on a worker thread
(session.concurrently) while the calling thread embeds, runs the
vector MERGE and the cluster stage and writes the cluster-state
tables. These tests hold it to its publish order and its endings:

- the cluster-state marker publishes after the doc table's manifest,
  however late the doc branch finishes;
- an error in either branch fails the job, publishes no marker and
  leaves no thread of the job alive;
- every Spark job the run submits, on either thread, carries the
  caller's job group.

The job runs in this process (runpy, SparkSession.stop patched out) on
the test session."""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import runpy
import sys
import threading
import time

import pytest
from planutil import SF, spark_jobs
from pyspark.sql import SparkSession

from tackle4losscontentextraction_spark import fsutil, session
from tackle4losscontentextraction_spark.operators import merge

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Boom(Exception):
    pass


@pytest.fixture(scope="module")
def spans_in(spark, tmp_path_factory):
    if not os.path.isdir(SF):
        pytest.skip("driver testdata absent")
    from tackle4losscontentextraction_spark.sources import synth

    path = str(tmp_path_factory.mktemp("branches") / "spans_in")
    synth.docs_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")).limit(60).write.parquet(path)
    return path


def _run(monkeypatch, inp: str, wd: str) -> dict:
    """Run the job once with --spans --cluster; its printed JSON."""
    out = io.StringIO()
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "stop", lambda self: None)
        m.setattr(sys, "argv", ["run_pipeline.py", "--input", inp, "--spans", "--cluster",
                                "--workdir", wd, "--buckets", "4"])
        with contextlib.redirect_stdout(out), pytest.raises(SystemExit) as done:
            runpy.run_path(os.path.join(REPO, "jobs", "run_pipeline.py"), run_name="__main__")
    assert done.value.code == 0
    return json.loads([ln for ln in out.getvalue().splitlines() if ln.startswith("{")][-1])


def _patch_merge(monkeypatch, table: str, before) -> None:
    """Call ``before()`` ahead of every merge_write into the workdir's
    ``table`` (``doc_table`` or ``vec_table``)."""
    real = merge.merge_write

    def merge_write(spark, table_dir, *a, **k):
        if os.path.basename(table_dir) == table:
            before()
        return real(spark, table_dir, *a, **k)

    monkeypatch.setattr(merge, "merge_write", merge_write)


def test_marker_publishes_after_a_slow_doc_branch(spark, spans_in, tmp_path, monkeypatch):
    """The doc branch sleeps until the cluster-state tables are on
    disk, so the vector branch reaches its marker publish long before
    the doc manifest could publish; the marker must still come last."""
    wd = str(tmp_path / "wd")
    real = fsutil.VersionLog.publish
    published = []

    def publish(self, spark, n, text):
        ok = real(self, spark, n, text)
        published.append(os.path.relpath(self.path(n), wd))
        return ok

    def tables_written():
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not all(
                os.path.exists(f"{wd}/cluster_state/v0/{name}/_SUCCESS")
                for name in ("clusters", "memberships")):
            time.sleep(0.05)

    with monkeypatch.context() as m:
        m.setattr(fsutil.VersionLog, "publish", publish)
        _patch_merge(m, "doc_table", tables_written)
        job = _run(monkeypatch, spans_in, wd)
    spark.sparkContext.setLogLevel("ERROR")
    assert job["clustering"]["state_version"] == 0
    assert published[0] == "lineage/snap-0.json"
    assert sorted(published[1:3]) == ["doc_table/metadata/snap-0.json",
                                      "vec_table/metadata/snap-0.json"]
    assert published[3:] == ["cluster_state/committed-v0"]


@pytest.mark.parametrize("table", ["doc_table", "vec_table"])
def test_a_failing_branch_fails_the_job_without_a_marker(
        spark, spans_in, tmp_path, monkeypatch, table):
    wd = str(tmp_path / "wd")
    threads = set(threading.enumerate())

    def fail():
        raise Boom(table)

    with monkeypatch.context() as m:
        _patch_merge(m, table, fail)
        with pytest.raises(Boom):
            _run(monkeypatch, spans_in, wd)
    spark.sparkContext.setLogLevel("ERROR")
    assert glob.glob(f"{wd}/lineage/snap-*.json")
    assert not glob.glob(f"{wd}/cluster_state/committed-v*")
    assert set(threading.enumerate()) == threads


def test_every_spark_job_of_the_run_keeps_the_callers_group(
        spark, spans_in, tmp_path, monkeypatch):
    """The jobs the caller's job group sees are every job the status
    store (Spark's own listener) recorded during the run, the doc
    branch's included."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def all_jobs() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = all_jobs()
    _, grouped = spark_jobs(spark, lambda: _run(monkeypatch, spans_in, str(tmp_path / "wd")))
    spark.sparkContext.setLogLevel("ERROR")
    submitted = all_jobs() - before
    assert len(submitted) >= 10
    assert sorted(submitted) == grouped


def test_concurrently_joins_every_thread_and_raises_the_first_error(spark):
    """The body's error surfaces only after the slow thread has ended;
    a thread's error is raised by wait and again on exit."""
    ended = threading.Event()

    def slow():
        time.sleep(0.3)
        ended.set()

    with pytest.raises(Boom, match="body"):
        with session.concurrently(spark, slow):
            raise Boom("body")
    assert ended.is_set()

    def fail():
        raise Boom("thread")

    with pytest.raises(Boom, match="thread"):
        with session.concurrently(spark, fail, lambda: 2) as wait:
            with pytest.raises(Boom, match="thread"):
                wait()
    with session.concurrently(spark, lambda: 1, lambda: 2) as wait:
        assert wait() == [1, 2]
