"""Integration smoke tests for the spark-submit job entry points.

Each job runs as a real subprocess (its own SparkSession on local[2])
against sf0.001 inputs — the same way a scheduler would launch it. The
suite keeps these to one representative invocation per job; operator
semantics are covered by the unit suites.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

_ENV = dict(
    os.environ,
    PYSPARK_SUBMIT_ARGS=(
        "--master local[2] --conf spark.sql.shuffle.partitions=4 "
        "--conf spark.driver.memory=4g --conf spark.ui.enabled=false "
        "pyspark-shell"
    ),
)


def _run_job(script: str, *argv: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *argv],
        capture_output=True, text=True, env=_ENV, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the job prints exactly one JSON line (its result) on stdout
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stdout[-2000:]
    return json.loads(lines[-1])


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_run_dedup_exact_keeps_survivors(tmp_path):
    out = _run_job(
        "run_dedup.py",
        "--input", f"{SF}/documents.parquet",
        "--method", "exact",
        "--out", str(tmp_path / "pairs"),
        "--keep", str(tmp_path / "kept"),
    )
    assert out["method"] == "exact"
    assert out["pairs"] > 0            # one group row per distinct digest
    assert out["kept"] + out["dropped"] == out["pairs"] + out["dropped"]
    assert out["kept"] > 0


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_run_table_maintenance_compact_expire_export(tmp_path, spark):
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.operators import merge

    table = str(tmp_path / "tbl")
    base = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 2).alias("v"),
    )
    merge.merge_write(spark, table, base, key="doc_id", n_buckets=4)
    upd = spark.range(10).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit(-1).cast("bigint").alias("v"),
    )
    merge.merge_write(spark, table, upd, key="doc_id", n_buckets=4)

    hist = _run_job("run_table_maintenance.py", "--table", table, "history")
    assert hist["snapshots"] == [0, 1] and hist["current"] == 1

    # time-travel export of snapshot 1 sees pre-update values
    exp = _run_job(
        "run_table_maintenance.py", "--table", table,
        "export", "--snapshot", "0", "--out", str(tmp_path / "asof1"),
    )
    assert exp["rows"] == 100
    asof1 = spark.read.parquet(str(tmp_path / "asof1"))
    assert asof1.where(F.col("v") == -1).count() == 0

    comp = _run_job("run_table_maintenance.py", "--table", table, "compact")
    assert comp["snapshot"] == 2 and comp["rows_written"] == 100

    expd = _run_job("run_table_maintenance.py", "--table", table,
                    "expire", "--keep-last", "1")
    assert expd["kept"] == [2] and set(expd["dropped"]) == {0, 1}
    assert merge.read_table(spark, table).count() == 100


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_run_extraction_html_mode(tmp_path, spark):
    from tackle4losscontentextraction_spark.operators import html_tokenize
    from tackle4losscontentextraction_spark.sources import synth

    docs = synth.docs_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")).limit(50)
    pages = html_tokenize.render_html(docs).join(
        docs.select("doc_id", "url", "lang"), "doc_id")
    html_in = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(html_in)

    out = _run_job(
        "run_extraction.py",
        "--input", html_in, "--html",
        "--output", str(tmp_path / "out"),
        "--lineage", str(tmp_path / "lineage"),
        "--buckets", "2",
    )
    assert out["metrics"]["n_docs"] == 50
    extracted = spark.read.parquet(str(tmp_path / "out"))
    assert extracted.count() == 50
    # the HTML round trip must not degrade extraction: spans parsed
    # back from markup classify like the direct-span path does
    assert {"content_type", "extracted", "error"} <= set(extracted.columns)
    assert extracted.where("NOT error").count() > 0


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_run_pipeline_spans_mode(tmp_path, spark):
    """--spans consumes the engine's native table layout (doc_id, url,
    lang, spans) directly — same results as the documents path on the
    same docs, minus the synthesis step."""
    from tackle4losscontentextraction_spark.sources import synth

    docs = synth.docs_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")).limit(60)
    spans_in = str(tmp_path / "spans_in")
    docs.write.mode("overwrite").parquet(spans_in)

    out = _run_job(
        "run_pipeline.py",
        "--input", spans_in, "--spans",
        "--workdir", str(tmp_path / "wd"), "--buckets", "2",
    )
    assert out["metrics"]["n_docs"] == 60
    assert out["doc_table"]["rows_written"] == 60 - out["metrics"]["n_errors"]
    assert 0 < out["vec_table"]["rows_written"] <= out["doc_table"]["rows_written"]


def test_run_clustering_rerun_scores_only_unclustered(tmp_path, spark):
    """S4 (the reference's ``cluster_id IS NULL``): a re-run over its
    own state (``--clusters`` and ``--memberships`` from the first
    run's outputs) clusters only the vectors with no membership. No
    prior member is assigned again (its vector is already in its
    cluster's centroid), and ``pending`` holds only unclustered
    vectors."""
    import random

    rng = random.Random(137)
    bases = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    rows = [[x + rng.gauss(0, 0.15) for x in b] for b in bases for _ in range(5)]
    rows += [[rng.gauss(0, 1) for _ in range(16)] for _ in range(20)]
    vectors = str(tmp_path / "vectors")
    spark.createDataFrame(list(enumerate(rows)), "vec_id bigint, embedding array<double>"
                          ).write.parquet(vectors)
    first, again = str(tmp_path / "first"), str(tmp_path / "again")

    def ids(out: str, name: str) -> set:
        return {r.vec_id for r in spark.read.parquet(os.path.join(out, name)).collect()}

    _run_job("run_clustering.py", "--vectors", vectors, "--out", first)
    prior = ids(first, "assignments")
    assert prior
    res = _run_job("run_clustering.py", "--vectors", vectors, "--out", again,
                   "--clusters", os.path.join(first, "clusters"),
                   "--memberships", os.path.join(first, "assignments"),
                   "--assign-threshold", "0.5")
    assigned, pending = ids(again, "assignments"), ids(again, "pending")
    assert res["counts"]["assignments"] == len(assigned) > 0
    assert not assigned & prior
    assert not pending & prior
    assert assigned | pending == ids(vectors, "") - prior


def test_run_pipeline_end_to_end_and_resume(tmp_path, spark):
    from tackle4losscontentextraction_spark.plans import pipeline

    wd = str(tmp_path / "wd")
    argv = ("--input", f"{SF}/documents.parquet",
            "--workdir", wd, "--buckets", "2", "--cluster")

    def tally() -> dict:
        # the A7 tally as a scan of its own: the printed metrics (an
        # Observation on the doc MERGE's source pass) must equal it
        extracted = spark.read.parquet(os.path.join(wd, "extracted"))
        return pipeline.metrics(extracted).collect()[0].asDict()

    r1 = _run_job("run_pipeline.py", *argv)
    assert sorted(r1["resume"]["processed"]) == [0, 1]
    assert r1["metrics"]["n_docs"] == 500
    # the batch has error-gated rows: they count, though the R5 gate
    # keeps them out of the MERGE whose source pass tallies them
    assert r1["metrics"]["n_errors"] > 0
    assert r1["metrics"] == tally()
    # R5 gate: only non-error rows reach the doc table
    assert r1["doc_table"]["rows_written"] == 500 - r1["metrics"]["n_errors"]
    assert 0 < r1["vec_table"]["rows_written"] <= r1["doc_table"]["rows_written"]
    assert r1["clustering"]["state_version"] == 0
    _assert_counts_match_committed_state(wd, r1["clustering"])

    # rerun: extraction resumes (nothing pending), merges re-upsert the
    # same rows into new snapshots, clustering advances its state
    # version (prior pendings may now join clusters formed in run 1)
    r2 = _run_job("run_pipeline.py", *argv)
    assert r2["resume"]["processed"] == []
    assert sorted(r2["resume"]["skipped"]) == [0, 1]
    # skipped buckets still count: the tally covers all of extracted/
    assert r2["metrics"] == r1["metrics"] == tally()
    assert r2["doc_table"]["rows_written"] == r1["doc_table"]["rows_written"]
    assert r2["doc_table"]["snapshot"] == r1["doc_table"]["snapshot"] + 1
    assert r2["clustering"]["state_version"] == 1
    assert r2["clustering"]["memberships"] >= r1["clustering"]["memberships"]
    _assert_counts_match_committed_state(wd, r2["clustering"])


def _assert_counts_match_committed_state(wd: str, printed: dict) -> None:
    """The printed cluster-state counts are the rows of the committed
    cluster_state/v<N> (they come from Observations on its writes)."""
    import pyarrow.parquet as pq

    state = os.path.join(wd, "cluster_state")
    ver = printed["state_version"]
    assert os.path.exists(os.path.join(state, f"committed-v{ver}"))
    for name in ("clusters", "memberships"):
        rows = pq.read_table(os.path.join(state, f"v{ver}", name)).num_rows
        assert printed[name] == rows, (name, printed[name], rows)
