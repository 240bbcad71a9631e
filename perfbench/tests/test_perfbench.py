"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The last test starts a local Spark session to pin the corpus twins
(spans, HTML, embeddings) to the library code they stand in for.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import check  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402
import proctree  # noqa: E402


def _input_bytes(tmp_path, name: str, rows: list[dict], html: bool) -> list[bytes]:
    path = tmp_path / name
    corpus.write_input(corpus.span_docs(rows), str(path), html)
    return [open(f, "rb").read() for f in sorted(glob.glob(f"{path}/*.parquet"))]


@pytest.mark.parametrize("html", [False, True])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, html):
    a = _input_bytes(tmp_path, "a", corpus.cold_batch(3, 120), html)
    b = _input_bytes(tmp_path, "b", corpus.cold_batch(3, 120), html)
    c = _input_bytes(tmp_path, "c", corpus.cold_batch(4, 120), html)
    assert a == b
    assert a != c


def test_incremental_batch_is_seeded_and_prior_is_fixed():
    p1, b1 = corpus.incremental(3, 80, 40, 20)
    p2, b2 = corpus.incremental(3, 80, 40, 20)
    p3, b3 = corpus.incremental(4, 80, 40, 20)
    assert (p1, b1) == (p2, b2)
    assert p1 == p3 and b1 != b3
    prior_ids = {r["doc_id"] for r in p1}
    updates = [r for r in b1 if r["doc_id"] in prior_ids]
    assert len(updates) == 20
    # a re-crawl keeps its story's length, hence its span layout
    by_id = {r["doc_id"]: r for r in p1}
    assert all(r["n_chars"] == by_id[r["doc_id"]]["n_chars"] for r in updates)
    assert all(r["doc_id"] >= corpus.doc_id_base(3) for r in b1[20:])


# ---------------------------------------------------------------------------
# output check on a workdir written to the job's layout
# ---------------------------------------------------------------------------

def _write_table(table_dir: str, rows: list[dict]) -> None:
    os.makedirs(f"{table_dir}/data/snap-0-t/bucket=0")
    os.makedirs(f"{table_dir}/metadata")
    pq.write_table(pa.Table.from_pylist(rows), f"{table_dir}/data/snap-0-t/bucket=0/part-0.parquet")
    with open(f"{table_dir}/metadata/snap-0.json", "w") as f:
        json.dump({"snapshot_id": 0, "buckets": {"0": "snap-0-t"}}, f)


def _fake_workdir(wd: str, batch: list[dict]) -> None:
    """The tables a correct job run leaves, built from the oracle."""
    os.makedirs(f"{wd}/extracted/bucket=0")
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": d["doc_id"], "error": check.is_error_doc(d)} for d in batch]),
        f"{wd}/extracted/bucket=0/part-0.parquet")
    rows = [dict(check._expected_row(d), doc_id=d["doc_id"]) for d in batch if not check.is_error_doc(d)]
    _write_table(f"{wd}/doc_table", rows)
    _write_table(f"{wd}/vec_table", [
        {"doc_id": r["doc_id"], "embedding": check.hash_embed(r["main_content"], 64)}
        for r in rows if r["main_content"]])
    state = f"{wd}/cluster_state"
    os.makedirs(f"{state}/v0/clusters")
    os.makedirs(f"{state}/v0/memberships")
    open(f"{state}/committed-v0", "w").write("0")
    pq.write_table(pa.table({"cluster_id": ["c1", "c2"], "member_count": [2, 3]}),
                   f"{state}/v0/clusters/part-0.parquet")
    pq.write_table(pa.table({"vec_id": [1, 2, 3, 4, 5], "cluster_id": ["c1", "c1", "c2", "c2", "c2"]}),
                   f"{state}/v0/memberships/part-0.parquet")


@pytest.fixture
def batch():
    return corpus.span_docs(corpus.cold_batch(5, 40))


def test_check_accepts_correct_outputs(tmp_path, batch):
    wd = str(tmp_path / "wd")
    _fake_workdir(wd, batch)
    assert check.check(wd, batch, set(), seed=5, dim=64, cluster=True) == []


def _rewrite(table_dir: str, fn) -> None:
    (f,) = glob.glob(f"{table_dir}/data/*/bucket=0/*.parquet")
    rows = pq.read_table(f).to_pylist()
    fn(rows)
    pq.write_table(pa.Table.from_pylist(rows), f)


def _with_content(rows: list[dict]) -> dict:
    return next(r for r in rows if r["main_content"])


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[0].update(title=rows[0]["title"] + "x"),
    lambda rows: _with_content(rows).update(main_content=_with_content(rows)["main_content"] + "x"),
    lambda rows: rows.pop(),
])
def test_check_rejects_one_corrupted_doc_row(tmp_path, batch, corrupt):
    wd = str(tmp_path / "wd")
    _fake_workdir(wd, batch)
    # check.SAMPLE covers the whole 40-doc batch, so every row is sampled
    _rewrite(f"{wd}/doc_table", corrupt)
    assert check.check(wd, batch, set(), seed=5, dim=64, cluster=False)


def test_check_rejects_one_corrupted_embedding(tmp_path, batch):
    wd = str(tmp_path / "wd")
    _fake_workdir(wd, batch)
    _rewrite(f"{wd}/vec_table", lambda rows: rows[0].update(
        embedding=[x + 1e-9 for x in rows[0]["embedding"]]))
    assert check.check(wd, batch, set(), seed=5, dim=64, cluster=False)


def test_check_rejects_broken_cluster_state(tmp_path, batch):
    wd = str(tmp_path / "wd")
    _fake_workdir(wd, batch)
    pq.write_table(pa.table({"cluster_id": ["c1", "c2"], "member_count": [2, 4]}),
                   f"{wd}/cluster_state/v0/clusters/part-0.parquet")
    assert check.check(wd, batch, set(), seed=5, dim=64, cluster=True)


# ---------------------------------------------------------------------------
# span arithmetic on a synthetic event log
# ---------------------------------------------------------------------------

def _job(job_id: int, submit: float, stage: int) -> str:
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Submission Time": round(submit * 1000), "Stage IDs": [stage]})


def _task(stage: int, launch: float, finish: float, py_ms: float = 0) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": round(launch * 1000), "Finish Time": round(finish * 1000),
                      "Accumulables": [{"Name": eventlog.PY_RUN, "Update": py_ms, "Metadata": "sql"}]},
        "Task Metrics": {"Executor Run Time": round((finish - launch) * 1000),
                         "Executor CPU Time": round((finish - launch) * 5e8),
                         "Output Metrics": {"Records Written": 10}},
    })


def _trace() -> dict:
    # job starts at 10; extraction write 10-20 with extract() 11-12
    # inside; metrics 20-21; doc MERGE 21-23; vector MERGE ends at 26
    return {"start": 10.0, "result": 26.5, "spans": [
        {"name": "extraction.extract", "depth": 1, "start": 11.0, "end": 12.0},
        {"name": "lineage.run_with_resume", "depth": 0, "start": 10.5, "end": 20.0},
        {"name": "pipeline.metrics", "depth": 0, "start": 20.1, "end": 20.2},
        {"name": "merge.merge_write", "depth": 0, "start": 21.0, "end": 23.0, "rows_written": 5},
        {"name": "merge.merge_write", "depth": 0, "start": 23.5, "end": 26.0, "rows_written": 5},
    ]}


def test_stage_spans_tile_the_job():
    stages = eventlog.stage_spans(_trace())
    assert [(s.name, s.start, s.end) for s in stages] == [
        ("extract_write", 10.0, 20.0), ("metrics", 20.0, 21.0), ("doc_merge", 21.0, 23.0),
        ("embed_vec_merge", 23.0, 26.0), ("cluster", 26.0, 26.0)]


def test_self_time_driver_time_and_attribution():
    rec = _trace()
    spans = eventlog.stage_spans(rec) + eventlog.call_spans(rec)
    jobs = eventlog.read_jobs([
        _job(0, 11.5, 0), _task(0, 11.6, 11.9),                      # inside extract()
        _job(1, 13.0, 1), _task(1, 13.0, 16.0), _task(1, 14.0, 18.0, py_ms=500),
        _job(2, 21.5, 2), _task(2, 21.5, 22.5),
    ])
    by_span = eventlog.attribute(spans, jobs)
    assert [j.job_id for j in by_span["extraction.extract"]] == [0]
    assert [j.job_id for j in by_span["lineage.run_with_resume"]] == [1]
    assert [j.job_id for j in by_span["merge.merge_write"]] == [2]

    extract_write = spans[0]
    # children: run_with_resume covers 10.5-20; extract() is a grandchild
    assert eventlog.self_time(extract_write, spans) == pytest.approx(0.5)
    run = [s for s in spans if s.name == "lineage.run_with_resume"][0]
    assert eventlog.self_time(run, spans) == pytest.approx(8.5)

    mine = [j for j in jobs if extract_write.contains(j.submit)]
    m = eventlog.span_metrics(extract_write, spans, mine, jobs, cores=4)
    # tasks cover 11.6-11.9 and 13-18: 5.3 s busy of 10
    assert m["driver_s"] == pytest.approx(4.7)
    assert m["exec_run_s"] == pytest.approx(0.3 + 3 + 4)
    assert m["exec_cpu_s"] == pytest.approx((0.3 + 3 + 4) / 2)
    assert m["py_run_s"] == pytest.approx(0.5)
    assert m["jobs"] == 2 and m["rows_out"] == 30
    assert m["slot_busy_frac"] == pytest.approx(7.3 / 40)


def test_union_length_merges_overlaps():
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4)
    assert eventlog.union_length([]) == 0


def test_group_tree_finds_a_child_in_its_own_group():
    # a leader whose child moves to a process group of its own, as
    # PySpark's worker daemon does under the JVM
    code = ("import os, subprocess, sys, time; subprocess.Popen([sys.executable, '-c', "
            "'import os, time; os.setpgid(0, 0); time.sleep(30)']); time.sleep(30)")
    leader = subprocess.Popen([sys.executable, "-c", code], start_new_session=True)
    try:
        for _ in range(100):
            pids = proctree.group_tree(leader.pid)
            if len(pids) == 2:
                break
            time.sleep(0.05)
        assert leader.pid in pids and len(pids) == 2
    finally:
        for pid in proctree.group_tree(leader.pid):
            os.kill(pid, 9)
        leader.wait()


def test_process_tree_counts_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in proctree.tree(os.getpid())
        assert proctree.rss_mb(os.getpid()) > proctree.rss_mb(child.pid) > 0
        assert proctree.cpu_seconds(os.getpid()) > 0
    finally:
        child.kill()
        child.wait()


# ---------------------------------------------------------------------------
# the corpus twins equal the library code they stand in for
# ---------------------------------------------------------------------------

def test_twins_match_spark(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.functions import embeddings
    from tackle4losscontentextraction_spark.operators import html_tokenize
    from tackle4losscontentextraction_spark.sources import synth

    rows = corpus.cold_batch(7, 150)
    docs = corpus.span_docs(rows)
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])), path)
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        sdocs = synth.docs_from_documents(spark.read.parquet(path))
        got = {r.doc_id: r for r in sdocs.collect()}
        html = {r.doc_id: r.html for r in html_tokenize.render_html(sdocs).collect()}
        for d in docs:
            assert [s.asDict() for s in got[d["doc_id"]].spans] == d["spans"]
            assert html[d["doc_id"]] == corpus.render_html(d["spans"])
        texts = [" ".join(r["text"].split()[:40]) for r in rows[:20]] + ["", "  A  b\tc "]
        emb = spark.createDataFrame([(t,) for t in texts], "t string").select(
            "t", embeddings.hash_embed(F.col("t"), 64).alias("e")).collect()
        for r in emb:
            assert r.e == check.hash_embed(r.t, 64)
    finally:
        spark.stop()
