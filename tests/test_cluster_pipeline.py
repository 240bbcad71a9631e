"""End-to-end clustering plan over a controlled vector set."""

from __future__ import annotations

import os
import random

import pytest
from planutil import spark_jobs

from tackle4losscontentextraction_spark.plans import cluster_pipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cold_start_forms_pair_clusters(spark):
    vectors = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]), (2, [0.99, 0.05, 0.0]),     # pair A
            (3, [0.0, 1.0, 0.0]), (4, [0.02, 0.99, 0.0]),     # pair B
            (5, [0.5, 0.5, 0.7]),                              # loner
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = cluster_pipeline.run_clustering(spark, vectors)
    clusters = out["clusters"].collect()
    assigns = {r.vec_id: r.cluster_id for r in out["assignments"].collect()}
    pending = {r.vec_id for r in out["pending"].collect()}
    assert len(clusters) == 2
    assert assigns[1] == assigns[2]
    assert assigns[3] == assigns[4]
    assert assigns[1] != assigns[3]
    assert pending == {5}


def test_assign_to_existing_then_merge(spark):
    vectors = spark.createDataFrame(
        [(10, [1.0, 0.01]), (11, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    clusters = spark.createDataFrame(
        [("cA", [1.0, 0.0], 2), ("cA2", [0.995, 0.05], 2), ("cB", [0.0, 1.0], 3)],
        "cluster_id string, centroid array<double>, member_count bigint",
    )
    out = cluster_pipeline.run_clustering(spark, vectors, clusters)
    final = {r.cluster_id: r for r in out["clusters"].collect()}
    # cA and cA2 (cos > 0.9) merge; both incoming vectors assigned
    assert "cA" in final and "cA2" not in final
    assigns = {r.vec_id: r.cluster_id for r in out["assignments"].collect()}
    assert assigns[10] in ("cA", "cA2")
    assert assigns[11] == "cB"


def test_sweep_old_clusters(spark):
    from datetime import datetime

    clusters = spark.createDataFrame(
        [("a", [1.0], 2, datetime(2025, 1, 1), "NEW"),
         ("b", [1.0], 2, datetime(2025, 1, 5, 12), "NEW")],
        "cluster_id string, centroid array<double>, member_count bigint, updated_at timestamp, status string",
    )
    out = {r.cluster_id: r.status for r in
           cluster_pipeline.sweep_old_clusters(clusters, "2025-01-06 00:00:00").collect()}
    assert out == {"a": "OLD", "b": "NEW"}


def test_run_maintenance(spark):
    """count fixer (keep + unassign) + zero-centroid repair in one pass."""
    from tackle4losscontentextraction_spark.plans import cluster_pipeline

    clusters = spark.createDataFrame(
        [("a", [0.0, 0.0], 99), ("b", [1.0, 0.0], 1), ("c", [2.0, 2.0], 2)],
        "cluster_id string, centroid array<double>, member_count bigint",
    )
    memberships = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c")],
        "vec_id bigint, cluster_id string",
    )
    vectors = spark.createDataFrame(
        [(1, [2.0, 6.0]), (2, [4.0, 2.0]), (3, [1.0, 1.0]), (4, [5.0, 5.0]), (5, [7.0, 7.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = cluster_pipeline.run_maintenance(clusters, memberships, vectors)
    kept = {r.cluster_id: r for r in out["clusters"].collect()}
    # 'b' dropped (1 member), counts fixed, zero centroid of 'a' repaired
    assert set(kept) == {"a", "c"}
    assert kept["a"].member_count == 2 and kept["a"].centroid == [3.0, 4.0]
    assert kept["a"].repaired and not kept["c"].repaired
    unassign = [(r.vec_id, r.old_cluster_id) for r in out["unassign"].collect()]
    assert unassign == [(3, "b")]


def test_run_clustering_returns_merge_mapping(spark):
    # two near-identical seed pairs -> the fixpoint merges the two
    # 2-member clusters into one; the absorbed id must appear in the
    # returned mapping
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    rows = [(1, base), (2, near), (3, [0.998, 0.02, 0.0, 0.0]), (4, [0.997, 0.03, 0.0, 0.0])]
    vectors = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = cluster_pipeline.run_clustering(spark, vectors, None)
    assert "merge_mapping" in out
    mapping = out["merge_mapping"].collect()
    clusters = [r.cluster_id for r in out["clusters"].collect()]
    assigned = out["assignments"].select("cluster_id").distinct().collect()
    # every assignment points at a SURVIVING cluster (the mapping was
    # applied to this batch's own assignments)
    assert {r.cluster_id for r in assigned} <= set(clusters)
    # and the mapping's new ids are all survivors too (transitive)
    assert all(r.new_cluster_id in clusters for r in mapping)


def test_reconcile_memberships_repoints_prior_and_fresh_wins(spark):
    fresh = spark.createDataFrame(
        [(1, "cA"), (2, "cB")], "vec_id bigint, cluster_id string")
    prior = spark.createDataFrame(
        [(2, "cOLD"),   # re-assigned this run: fresh cB must win
         (3, "cGONE"),  # cluster absorbed by this run's merge -> cA
         (4, "cB")],    # untouched prior row survives as-is
        "vec_id bigint, cluster_id string")
    mapping = spark.createDataFrame(
        [("cGONE", "cA")], "old_cluster_id string, new_cluster_id string")
    got = {r.vec_id: r.cluster_id
           for r in cluster_pipeline.reconcile_memberships(fresh, prior, mapping).collect()}
    assert got == {1: "cA", 2: "cB", 3: "cA", 4: "cB"}


def test_mark_content_stale_dedups_touched(spark):
    clusters = spark.createDataFrame(
        [("c1", True), ("c2", True)], "cluster_id string, is_content boolean")
    # touched at member grain: c1 appears 3x
    touched = spark.createDataFrame(
        [("c1",), ("c1",), ("c1",)], "cluster_id string")
    out = cluster_pipeline.mark_content_stale(clusters, touched)
    rows = {r.cluster_id: r.is_content for r in out.collect()}
    assert out.count() == 2  # no duplicated cluster rows
    assert rows == {"c1": False, "c2": True}


# ---------------------------------------------------------------------------
# the stage's kernel against the Catalyst operators
# ---------------------------------------------------------------------------


def _catalyst_stage(spark, vectors, clusters, memberships):
    """The cluster stage as a chain of Catalyst operators and the numpy
    cores run on the driver: the S4 anti-join, assign, centroid update,
    pairing (``pair_pending``) and merge fixpoint (``merge_fixpoint``)
    over the collected bounded sets, re-pointing,
    reconcile_memberships and run_maintenance (recount_members,
    unassigned_members, repair_zero_centroids). Returns (clusters,
    memberships, unassign)."""
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.operators import cluster_kernel as ck
    from tackle4losscontentextraction_spark.operators import clustering

    unclustered = vectors.join(memberships.select("vec_id"), "vec_id", "left_anti")
    fresh = clustering.assign_to_clusters(unclustered, clusters).localCheckpoint()
    updated = clustering.update_centroids(clusters, unclustered, fresh).collect()
    pending = unclustered.join(fresh.select("vec_id"), "vec_id", "left_anti").orderBy(
        F.desc("vec_id")).limit(clustering.MAX_PENDING_PAIRING).collect()
    pairs = ck.pair_pending([r.vec_id for r in pending],
                            [_np_vec(r.embedding) for r in pending],
                            clustering.ASSIGN_THRESHOLD)
    ids, vecs, counts, mapping = ck.merge_fixpoint(
        [r.cluster_id for r in updated] + [p[0] for p in pairs],
        [_np_vec(r.centroid) for r in updated] + [p[1] for p in pairs],
        [r.member_count for r in updated] + [2] * len(pairs),
        clustering.MERGE_THRESHOLD, clustering.MAX_MERGE_PASSES)
    merged = spark.createDataFrame(
        [(i, _list_vec(v), n) for i, v, n in zip(ids, vecs, counts) if n >= 2],
        "cluster_id string, centroid array<double>, member_count bigint")
    mapping = spark.createDataFrame(
        list(mapping.items()), "old_cluster_id string, new_cluster_id string")
    assigned = fresh.select("vec_id", "cluster_id").unionByName(spark.createDataFrame(
        [(m, cid) for cid, _, a, b in pairs for m in (a, b)],
        "vec_id bigint, cluster_id string"))
    assigned = assigned.join(
        F.broadcast(mapping.withColumnRenamed("old_cluster_id", "cluster_id")),
        "cluster_id", "left").select(
        "vec_id", F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id"))
    members = cluster_pipeline.reconcile_memberships(assigned, memberships, mapping)
    maint = cluster_pipeline.run_maintenance(merged, members, vectors)
    unassign = maint["unassign"]
    return (maint["clusters"], members.join(unassign.select("vec_id"), "vec_id", "left_anti"),
            unassign)


def _np_vec(v):
    # the kernels carry a NULL element as NaN
    import numpy as np

    return None if v is None else np.array([np.nan if x is None else x for x in v])


def _list_vec(v):
    import math

    return None if v is None else [None if math.isnan(x) else float(x) for x in v]


def _random_state(rng, overlap: bool):
    """A cluster table, its memberships and every vector: near-duplicate
    centroids (merges, so absorbed ids), 1-member clusters (stored and
    true counts), orphan and NULL membership keys, and zero, NULL and
    NULL-element centroids whose members' vectors repair them. The
    vectors hold the unclustered ones (some assign, some pair up) and
    the members'. With ``overlap`` the members' vectors would assign
    or pair if they were scored: two near-duplicate members (one of the
    zero centroid) and members that sit next to the unclustered ones."""
    dim = 4
    bases = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(4)]

    def near(b, eps=0.03):
        return [x + rng.gauss(0, eps) for x in b]

    clusters = []
    for i in range(rng.randint(5, 9)):
        clusters.append((f"c{i}", near(rng.choice(bases), 0.02), rng.randint(1, 4)))
    clusters += [("zero", [0.0] * dim, 2), ("null", None, 3),
                 ("nullel", [None, 0.0, 0.0, 0.0], 2), ("empty", [], 2)]
    ids = [c[0] for c in clusters] + ["orphan"]
    vid = iter(range(1000, 10**6))
    members, member_vecs = [], []
    for cid in ids:
        for _ in range(rng.choice([0, 1, 1, 2, 3])):
            v = next(vid)
            members.append((v, cid))
            r = rng.random()
            member_vecs.append((v, None if r < 0.1 else [None] * dim if r < 0.15
                                else near(rng.choice(bases), 0.3 if not overlap else 0.03)))
    members.append((next(vid), None))
    if overlap:
        d = [rng.uniform(-1, 1) for _ in range(dim)]
        for cid in ("zero", rng.choice(ids)):
            members.append((next(vid), cid))
            member_vecs.append((members[-1][0], near(d, 0.01)))
        for _ in range(2):  # a NULL element: repairs with a NULL position
            members.append((next(vid), "zero"))
            member_vecs.append((members[-1][0], [rng.uniform(-1, 1), None, 1.0, 0.5]))
    to_cluster = []
    for _ in range(rng.randint(6, 14)):  # some assign, some pair up
        b = near(rng.choice(bases), 0.05)
        to_cluster.append((next(vid), b))
        if rng.random() < 0.5:
            to_cluster.append((next(vid), near(b, 0.01)))
    to_cluster.append((next(vid), [rng.uniform(-1, 1) for _ in range(dim)]))
    return clusters, members, member_vecs + to_cluster


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def test_stage_equals_catalyst_operators_property(spark, tmp_path):
    """run_clustering's one kernel pass (S4 anti-join, centroid update,
    pairing, merge, recount, unassign, repair) over every vector gives
    the rows of the operator chain run on the unclustered ones, on
    random states: ids, counts, flags and memberships exactly,
    centroids bit for bit but a repaired mean's, and no member is
    scored again. A sum of three or more doubles depends on the order
    Spark adds them in, which follows the plan: the inputs are parquet
    tables, as in the jobs, so the centroid sums take the Catalyst
    chain's plan; the repair sums cannot (the chain aggregates its own
    reconciled memberships), so a repaired mean is held to 1e-12."""
    from tackle4losscontentextraction_spark.operators import cluster_kernel as ck
    from tackle4losscontentextraction_spark.operators import clustering

    vec_ddl = "vec_id bigint, embedding array<double>"
    seen = {"absorbed": 0, "repaired": 0, "unassigned": 0, "dropped": 0,
            "member_would_assign": 0, "member_would_pair": 0}

    def table(rows, ddl, name):
        spark.createDataFrame(rows, ddl).write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    for seed in range(4):
        rng = random.Random(seed)
        clusters, members, all_vecs = _random_state(rng, overlap=seed == 2)
        cl = table(clusters, "cluster_id string, centroid array<double>, member_count bigint",
                   f"clusters{seed}")
        mem = table(members, "vec_id bigint, cluster_id string", f"members{seed}")
        vecs = table(all_vecs, vec_ddl, f"vectors{seed}")

        got = cluster_pipeline.run_clustering(spark, vecs, cl, mem)
        want_c, want_m, want_u = _catalyst_stage(spark, vecs, cl, mem)

        def cluster_rows(df):
            return _sorted((r.cluster_id, _hex(r.centroid), r.member_count, r.repaired)
                           for r in df.collect())

        got_c, want_rows = cluster_rows(got["clusters"]), cluster_rows(want_c)
        assert [r[:1] + r[2:] for r in got_c] == [r[:1] + r[2:] for r in want_rows], seed
        for g, w in zip(got_c, want_rows):
            if g[3]:  # a repaired mean: its member sums follow another plan
                assert _close(g[1], w[1]), (seed, g, w)
            else:
                assert g[1] == w[1], (seed, g, w)
        got_m = _sorted(tuple(r) for r in got["memberships"].collect())
        assert got_m == _sorted(tuple(r) for r in want_m.collect()), seed
        unassign = _sorted(tuple(r) for r in got["unassign"].collect())
        assert unassign == _sorted(tuple(r) for r in want_u.collect()), seed
        assert got["unassigned"].get["rows"] == len(unassign), seed
        # S4: no member is scored again, and pending is unclustered only
        held = {v for v, _ in members}
        assert not {r.vec_id for r in got["assignments"].collect()} & held, seed
        assert not {r.vec_id for r in got["pending"].collect()} & held, seed
        seen["absorbed"] += got["merge_mapping"].count()
        seen["repaired"] += sum(r.repaired for r in got["clusters"].collect())
        seen["unassigned"] += len(unassign)
        seen["dropped"] += len(clusters) - got["clusters"].count()
        # members whose vectors would assign or pair were they scored
        given = [(v, e) for v, e in all_vecs if v in held and e is not None]
        seen["member_would_assign"] += clustering.assign_to_clusters(
            spark.createDataFrame(given, vec_ddl), cl).count()
        seen["member_would_pair"] += len(ck.pair_pending(
            [v for v, _ in given], [_np_vec(e) for _, e in given],
            clustering.ASSIGN_THRESHOLD))
    # the random states do reach every branch
    assert all(seen.values()), seen


def _close(a, b):
    """Element-wise equal to 1e-12, NULLs in the same places."""
    import math

    return len(a) == len(b) and all(
        (x is None) == (y is None) and (x is None or math.isclose(
            float.fromhex(x), float.fromhex(y), rel_tol=1e-12, abs_tol=1e-300))
        for x, y in zip(a, b))


def _hex(v):
    return None if v is None else [None if x is None else float(x).hex() for x in v]


def test_stage_thresholds_must_be_cosines(spark):
    vecs = spark.createDataFrame([(1, [1.0])], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError):
        cluster_pipeline.run_clustering(spark, vecs, assign_threshold=-0.5)


# ---------------------------------------------------------------------------
# Spark jobs of the composed job's cluster stage
# ---------------------------------------------------------------------------


def _run_pipeline(monkeypatch, argv: list[str]) -> dict:
    import contextlib
    import io
    import json
    import runpy
    import sys

    from pyspark.sql import SparkSession

    out = io.StringIO()
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "stop", lambda self: None)
        m.setattr(sys, "argv", ["run_pipeline.py", *argv])
        with contextlib.redirect_stdout(out), pytest.raises(SystemExit) as done:
            runpy.run_path(os.path.join(REPO, "jobs", "run_pipeline.py"), run_name="__main__")
    assert done.value.code == 0
    return json.loads([ln for ln in out.getvalue().splitlines() if ln.startswith("{")][-1])


def _cluster_stage_jobs(spark, monkeypatch, argv: list[str]) -> tuple[dict, int]:
    """(the job's JSON, the Spark jobs of its cluster stage: those
    started inside its run_clustering and commit_state calls, each
    call run under a job group of its own). The doc MERGE runs
    concurrently on another thread, outside those groups."""
    jobs: list[int] = []

    def in_group(fn):
        def call(*a, **k):
            out, ids = spark_jobs(spark, lambda: fn(*a, **k))
            jobs.extend(ids)
            return out
        return call

    with monkeypatch.context() as m:
        for name in ("run_clustering", "commit_state"):
            m.setattr(cluster_pipeline, name, in_group(getattr(cluster_pipeline, name)))
        res = _run_pipeline(monkeypatch, argv)
    return res, len(jobs)


def test_cluster_stage_spark_jobs(spark, tmp_path, monkeypatch):
    """The cluster stage of the perfbench upsert_cluster job (corpus
    seed 21): from scratch it runs the kernel's materialization and the
    two state writes; over the committed state, where it also scores
    the unclustered vectors and re-points the memberships, at most 14.
    Either way every output count is consistent."""
    import shutil
    import sys

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import corpus

    prior, batch = corpus.incremental(21, 40, 40, 20)
    corpus.write_input(corpus.span_docs(prior), str(tmp_path / "prior_in"), False)
    corpus.write_input(corpus.span_docs(batch), str(tmp_path / "in"), False)
    wd = str(tmp_path / "wd")
    _run_pipeline(monkeypatch, ["--input", str(tmp_path / "prior_in"), "--workdir", wd,
                                "--spans", "--cluster"])
    for d in ("cluster_state", "lineage", "extracted"):
        shutil.rmtree(os.path.join(wd, d))
    argv = ["--input", str(tmp_path / "in"), "--workdir", wd, "--spans", "--cluster"]

    scratch, n_scratch = _cluster_stage_jobs(spark, monkeypatch, argv)
    again, n_again = _cluster_stage_jobs(spark, monkeypatch, argv)
    spark.sparkContext.setLogLevel("ERROR")
    assert scratch["clustering"]["state_version"] == 0
    assert again["clustering"]["state_version"] == 1
    assert scratch["clustering"]["clusters"] > 0
    assert n_scratch <= 3, n_scratch
    assert n_again <= 14, n_again


def test_read_state_reads_with_the_marker_schemas(spark, tmp_path):
    """commit_state records both tables' schemas in its marker, so
    read_state starts no Spark job; a marker holding only the version
    number is still read, by schema inference."""
    from tackle4losscontentextraction_spark import fsutil

    state = str(tmp_path / "state")
    clusters = spark.createDataFrame(
        [("a", [1.0, None], 2, False)],
        "cluster_id string, centroid array<double>, member_count bigint not null, "
        "repaired boolean")
    members = spark.createDataFrame([(1, "a"), (2, "a")], "vec_id bigint, cluster_id string")
    cluster_pipeline.commit_state(spark, state, 0, clusters, members)

    (ver, c, m), jobs = spark_jobs(spark, lambda: cluster_pipeline.read_state(spark, state))
    assert ver == 0 and jobs == []
    for got, name in ((c, "clusters"), (m, "memberships")):
        inferred = spark.read.parquet(f"{state}/v0/{name}")
        assert got.schema == inferred.schema, name
        assert sorted(got.collect()) == sorted(inferred.collect()), name

    fsutil.write_text(spark, f"{state}/committed-v0", "0")
    (ver, c, m), jobs = spark_jobs(spark, lambda: cluster_pipeline.read_state(spark, state))
    assert ver == 0 and jobs
    assert c.schema == spark.read.parquet(f"{state}/v0/clusters").schema
    assert sorted(m.collect()) == sorted(members.collect())
