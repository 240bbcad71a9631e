"""Kill at every step of the composed job.

jobs/run_pipeline.py --spans --cluster commits four times, each
through fsutil.VersionLog.publish: the lineage manifest first, then the
doc table's and the vector table's manifests, which its two concurrent
branches publish in either order, and the cluster-state marker last. A
raise injected just before each publish, and just after each but the
last, stands for a kill there; the kill point is picked by the
directory published into, so every point is hit whatever order the
branches finish in. A plain re-submission into the killed run's
workdir must then reach the state of an uninterrupted run: the same
doc, vector and extracted/ rows and the same live cluster state
(contents, not snapshot ids), and it must re-extract exactly the
buckets the killed run had not published.

The job runs in this process (runpy, SparkSession.stop patched out) on
the test session, so the 15 runs fit the time bound below."""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import runpy
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from planutil import SF
from pyspark.sql import SparkSession

from tackle4losscontentextraction_spark import fsutil
from tackle4losscontentextraction_spark.operators import merge
from tackle4losscontentextraction_spark.plans import cluster_pipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUCKETS = 4
# the directory of each publish, under the workdir, in publish order
# (the two table manifests may swap)
PUBLISHES = ("lineage", "doc_table/metadata", "vec_table/metadata", "cluster_state")


class Killed(Exception):
    pass


def _run(monkeypatch, inp: str, wd: str, kill: tuple[str, bool] | None = None) -> dict:
    """Run the job once; ``kill`` = (publish directory, after?) raises
    Killed just before (or after) the publish into that directory of
    ``PUBLISHES``. Returns the job's printed JSON and the directories
    it published into, in order."""
    real = fsutil.VersionLog.publish
    made = []

    def publish(self, spark, n, text):
        where = os.path.relpath(self.directory, wd)
        if kill == (where, False):
            raise Killed
        ok = real(self, spark, n, text)
        made.append(where)
        if kill == (where, True):
            raise Killed
        return ok

    out = io.StringIO()
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "stop", lambda self: None)
        m.setattr(fsutil.VersionLog, "publish", publish)
        m.setattr(sys, "argv", ["run_pipeline.py", "--input", inp, "--spans", "--cluster",
                                "--workdir", wd, "--buckets", str(BUCKETS)])
        with contextlib.redirect_stdout(out), pytest.raises(SystemExit) as done:
            runpy.run_path(os.path.join(REPO, "jobs", "run_pipeline.py"), run_name="__main__")
    assert done.value.code == 0
    lines = [line for line in out.getvalue().splitlines() if line.startswith("{")]
    return {"job": json.loads(lines[-1]), "published": made}


def _state(spark, wd: str) -> dict:
    """Rows of every table the job leaves, read from their files with
    pyarrow (no Spark job), each sorted by its key."""
    def rows(files, key):
        t = pa.concat_tables([pq.read_table(f) for f in sorted(files)],
                             promote_options="default")
        return sorted(t.to_pylist(), key=lambda r: r[key])

    _, clusters, members = cluster_pipeline.read_state(spark, f"{wd}/cluster_state")
    return {
        "doc_table": rows(merge.read_table(spark, f"{wd}/doc_table").inputFiles(), "doc_id"),
        "vec_table": rows(merge.read_table(spark, f"{wd}/vec_table").inputFiles(), "doc_id"),
        "extracted": rows(glob.glob(f"{wd}/extracted/bucket=*/*.parquet"), "doc_id"),
        "clusters": rows(clusters.inputFiles(), "cluster_id"),
        "memberships": rows(members.inputFiles(), "vec_id"),
    }


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_resubmission_after_a_kill_at_every_step_equals_an_uninterrupted_run(
        spark, tmp_path, monkeypatch):
    from tackle4losscontentextraction_spark.sources import synth

    t0 = time.monotonic()
    inp = str(tmp_path / "spans_in")
    synth.docs_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")).limit(60).write.parquet(inp)

    clean = _run(monkeypatch, inp, str(tmp_path / "clean"))
    made = clean["published"]
    assert made[0] == PUBLISHES[0] and made[-1] == PUBLISHES[-1], made
    assert sorted(made[1:-1]) == sorted(PUBLISHES[1:-1]), made
    assert sorted(clean["job"]["resume"]["processed"]) == list(range(BUCKETS))
    want = _state(spark, str(tmp_path / "clean"))
    assert want["clusters"] and want["memberships"]

    # before each publish, and after each but the last
    kills = [(where, after) for where in PUBLISHES for after in (False, True)
             if (where, after) != (PUBLISHES[-1], True)]
    assert len(kills) == 7
    for i, (where, after) in enumerate(kills):
        step = f"{'after' if after else 'before'} the {where} publish"
        wd = str(tmp_path / f"kill{i}")
        with pytest.raises(Killed):
            _run(monkeypatch, inp, wd, kill=(where, after))
        again = _run(monkeypatch, inp, wd)
        lineage_published = where != PUBLISHES[0] or after
        assert sorted(again["job"]["resume"]["processed"]) == (
            [] if lineage_published else list(range(BUCKETS))), step
        assert again["job"]["metrics"] == clean["job"]["metrics"], step
        got = _state(spark, wd)
        for name in want:
            assert got[name] == want[name], (step, name)
    spark.sparkContext.setLogLevel("ERROR")
    assert time.monotonic() - t0 <= 120
