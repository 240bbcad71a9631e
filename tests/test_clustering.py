"""Clustering batch-dataflow semantics (reference
tests/test_cluster_process.py + test_pipeline_functional.py analogs):
the Catalyst operators, the numpy kernels against a straight-loop
reference, and the pairing and merge as the cluster stage
(``cluster_pipeline.run_clustering``) runs them through Spark."""

from __future__ import annotations

import math
import random
import time

import numpy as np
import pyoracle
import pytest
from planutil import spark_jobs
from pyspark.sql import functions as F

from tackle4losscontentextraction_spark.operators import cluster_kernel as ck
from tackle4losscontentextraction_spark.operators import clustering
from tackle4losscontentextraction_spark.plans import cluster_pipeline

VEC_DDL = "vec_id bigint, embedding array<double>"
CLUSTER_DDL = "cluster_id string, centroid array<double>, member_count bigint"


def _merge_only(spark, clusters, **kw):
    """The stage over a cluster table alone: no vector to score, no
    memberships, so its clusters are the merge fixpoint's survivors
    with 2 or more members, and its merge_mapping the absorbed ids."""
    return cluster_pipeline.run_clustering(
        spark, spark.createDataFrame([], VEC_DDL), clusters, **kw)


def test_assign_above_threshold(spark):
    vectors = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.5, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    clusters = spark.createDataFrame(
        [("cA", [1.0, 0.0], 3), ("cB", [0.0, 1.0], 2)],
        "cluster_id string, centroid array<double>, member_count bigint",
    )
    out = {r.vec_id: (r.cluster_id, r.cosine) for r in
           clustering.assign_to_clusters(vectors, clusters).collect()}
    assert out[1][0] == "cA" and out[1][1] == pytest.approx(1.0)
    assert out[2][0] == "cA"
    assert out[3][0] == "cB"
    # vec 4 has cos ~0.707 to both — below 0.82, unassigned
    assert 4 not in out


def test_two_similar_vectors_form_pair_cluster(spark):
    """Reference test_cluster_process.py: two near-identical vectors +
    empty cluster set -> one new 2-member cluster."""
    pending = spark.createDataFrame(
        [(10, [0.6, 0.8]), (11, [0.61, 0.79]), (12, [-1.0, 0.0])], VEC_DDL)
    out = cluster_pipeline.run_clustering(spark, pending)
    row, = out["clusters"].collect()
    assert row.member_count == 2
    mid = [(0.6 + 0.61) / 2, (0.8 + 0.79) / 2]
    assert list(row.centroid) == pytest.approx(mid)
    assert {(r.vec_id, r.cluster_id) for r in out["assignments"].collect()} == {
        (10, row.cluster_id), (11, row.cluster_id)}
    assert [r.vec_id for r in out["pending"].collect()] == [12]


def test_weighted_merge_fixpoint(spark):
    """Two centroids with cos > 0.9 merge with the weighted mean
    (test_pipeline_functional.py:159-192 analog)."""
    clusters = spark.createDataFrame(
        [("a", [1.0, 0.0], 1), ("b", [0.98, 0.05], 3), ("c", [0.0, 1.0], 2)], CLUSTER_DDL)
    out = {r.cluster_id: r for r in _merge_only(spark, clusters)["clusters"].collect()}
    assert set(out) == {"a", "c"}
    merged = out["a"]
    assert merged.member_count == 4
    expect = [(1.0 * 1 + 0.98 * 3) / 4, (0.0 * 1 + 0.05 * 3) / 4]
    assert list(merged.centroid) == pytest.approx(expect)


def test_recount_members_drops_small_clusters(spark):
    clusters = spark.createDataFrame(
        [("a", [1.0], 99), ("b", [1.0], 1), ("c", [1.0], 5)],
        "cluster_id string, centroid array<double>, member_count bigint",
    )
    memberships = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")],
        "vec_id bigint, cluster_id string",
    )
    out = {r.cluster_id: r.member_count for r in
           clustering.recount_members(clusters, memberships).collect()}
    # a: fixed 99 -> 2; b: 1 member -> dropped; c: 1 member -> dropped
    assert out == {"a": 2}


def test_update_centroids_running_mean(spark):
    clusters = spark.createDataFrame(
        [("a", [1.0, 1.0], 2)],
        "cluster_id string, centroid array<double>, member_count bigint",
    )
    vectors = spark.createDataFrame(
        [(7, [4.0, 4.0]), (8, [4.0, 4.0])], "vec_id bigint, embedding array<double>"
    )
    assignments = spark.createDataFrame(
        [(7, "a"), (8, "a")], "vec_id bigint, cluster_id string"
    )
    out = clustering.update_centroids(clusters, vectors, assignments).collect()[0]
    # (c*2 + [8,8]) / 4 = [2.5, 2.5]
    assert list(out.centroid) == pytest.approx([2.5, 2.5])
    assert out.member_count == 4


# ---------------------------------------------------------------------------
# pairing / merge kernels against a straight-loop reference
# ---------------------------------------------------------------------------
#
# The reference below restates the SQL of functions/vectors.py and the
# pairing/merge rules of operators/clustering.py one scalar at a time:
# the same sequential folds, the same three-valued edge rules, the same
# zip_with padding. Python floats are IEEE doubles, so equality is
# asserted bit for bit.


def _ref_norm(v):
    if v is None:
        return None
    acc = 0.0
    for x in v:
        if x is None:
            return None
        acc = acc + x * x
    return math.sqrt(acc)


def _ref_cos(a, b):
    """vectors.cosine_similarity, row by row (None = SQL NULL)."""
    sa = None if a is None else len(a)
    sb = None if b is None else len(b)
    known = sa is not None and sb is not None
    a2 = a[::2] if known and sa == sb * 2 else a
    b2 = b[::2] if known and sb == sa * 2 else b
    s2a = None if a2 is None else len(a2)
    s2b = None if b2 is None else len(b2)
    na, nb = _ref_norm(a2), _ref_norm(b2)
    if s2a == 0 or s2b == 0:
        return 0.0
    if known and s2a != s2b:
        return None
    if na == 0.0 or nb == 0.0:
        return 0.0
    if na is None or nb is None:
        return None
    dot = 0.0
    for x, y in zip(a2, b2):
        dot = dot + x * y
    return dot / (na * nb)


def _ref_zip(a, b, f):
    if a is None or b is None:
        return None
    out = []
    for k in range(max(len(a), len(b))):
        x = a[k] if k < len(a) else None
        y = b[k] if k < len(b) else None
        out.append(None if x is None or y is None else f(x, y))
    return out


def _ref_mutual(keys, vecs, threshold):
    """Mutual-best pairs (i, j), keys[i] < keys[j]: best partner =
    highest cosine > threshold, ties to the smallest key."""
    best = {}
    for i in range(len(vecs)):
        cand = None
        for j in range(len(vecs)):
            if j == i:
                continue
            s = _ref_cos(vecs[i], vecs[j])
            if s is None or not s > threshold:
                continue
            if cand is None or s > cand[0] or (s == cand[0] and keys[j] < keys[cand[1]]):
                cand = (s, j)
        if cand is not None:
            best[i] = cand[1]
    return [(i, j) for i, j in best.items() if keys[i] < keys[j] and best.get(j) == i]


def _ref_pairs(ids, vecs, threshold):
    return sorted(
        (pyoracle.deterministic_uuid(f"{ids[i]}#{ids[j]}"),
         _ref_zip(vecs[i], vecs[j], lambda x, y: (x + y) / 2), 2, ids[i], ids[j])
        for i, j in _ref_mutual(ids, vecs, threshold)
    )


def _ref_merge(ids, vecs, counts, threshold, max_passes=10):
    """Returns (sorted survivors, mapping, productive passes)."""
    cur = [list(r) for r in zip(ids, vecs, counts)]
    mapping, passes = {}, 0
    for _ in range(max_passes):
        pairs = _ref_mutual([c[0].encode("utf-8") for c in cur],
                            [c[1] for c in cur], threshold)
        if not pairs:
            break
        passes += 1
        gone = set()
        for i, j in pairs:
            (ca, va, na), (cb, vb, nb) = cur[i], cur[j]
            cur[i] = [ca, _ref_zip(va, vb, lambda x, y: (x * na + y * nb) / (na + nb)),
                      na + nb]
            gone.add(j)
            for old in mapping:
                if mapping[old] == cb:
                    mapping[old] = ca
            mapping[cb] = ca
        cur = [c for k, c in enumerate(cur) if k not in gone]
    return sorted(tuple(c) for c in cur), mapping, passes


def _hex(v):
    return None if v is None else [None if x is None else float(x).hex() for x in v]


def _kernel_vec(v):
    # the kernels carry a NULL element as NaN
    return None if v is None else [float("nan") if x is None else x for x in v]


def _out_vec(v):
    return None if v is None else [None if math.isnan(x) else float(x) for x in v]


def _random_set(rng, n, dim):
    """Near-duplicates of a few directions (multi-pass merges), exact
    duplicates (cosine ties), plus zero, empty, NULL, NULL-element,
    2x-dim and mismatched-dim vectors."""
    bases = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(rng.randint(1, 3))]
    vs = []
    for _ in range(n):
        r = rng.random()
        if r < 0.04:
            vs.append(None)
        elif r < 0.07:
            vs.append([])
        elif r < 0.12:
            vs.append([0.0] * dim)
        elif r < 0.16:
            vs.append([rng.uniform(-1, 1) for _ in range(dim + 1)])
        else:
            v = [x + rng.gauss(0, 0.03) for x in rng.choice(bases)]
            if r < 0.22:  # 2x dim whose stride-2 downsample is near a base
                v = [y for x in v for y in (x, rng.uniform(-1, 1))]
            elif r < 0.24:
                v[rng.randrange(dim)] = None
            vs.append(v)
    for _ in range(rng.randint(1, 4)):
        src = vs[rng.randrange(n)]
        vs[rng.randrange(n)] = None if src is None else list(src)
    return vs


_ALPHABET = ["a", "B", "z", "é", "0", "Z", "~", "ß", "中"]


def _random_ids(rng, n):
    ids: list[str] = []
    while len(ids) < n:
        s = "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(1, 4)))
        if s not in ids:
            ids.append(s)
    return ids


def test_kernels_equal_reference_property():
    """Pairing and merge kernels vs the straight-loop reference on
    random sets: bit-equal ids, centroids, counts and mapping."""
    max_passes = 0
    for seed in range(40):
        rng = random.Random(seed)
        dim = rng.choice([2, 4, 8])

        vs = _random_set(rng, rng.randint(4, 40), dim)
        ids = rng.sample(range(-10**12, 10**12), len(vs))
        got = sorted((cid, _hex(_out_vec(c)), 2, a, b) for cid, c, a, b in
                     ck.pair_pending(ids, [None if v is None else np.array(_kernel_vec(v))
                                           for v in vs], 0.82))
        want = [(cid, _hex(c), n, a, b) for cid, c, n, a, b in _ref_pairs(ids, vs, 0.82)]
        assert got == want, seed

        vs = _random_set(rng, rng.randint(4, 40), dim)
        cids = _random_ids(rng, len(vs))
        counts = [rng.randint(1, 6) for _ in vs]
        k_ids, k_vecs, k_counts, k_map = ck.merge_fixpoint(
            cids, [None if v is None else np.array(_kernel_vec(v)) for v in vs],
            counts, 0.9, 10)
        want, want_map, passes = _ref_merge(cids, vs, counts, 0.9)
        got = sorted((i, _hex(_out_vec(v)), n) for i, v, n in zip(k_ids, k_vecs, k_counts))
        assert got == [(i, _hex(v), n) for i, v, n in want], seed
        assert k_map == want_map, seed
        max_passes = max(max_passes, passes)
    assert max_passes >= 3  # the sets do exercise multi-pass merges


def test_kernel_breaks_exact_ties_by_smallest_id():
    # 1 and 3 are exact duplicates: 2 scores them identically and must
    # pick the smaller id, for vec ids (bigint order) and cluster ids
    # (UTF-8 byte order: "Z" < "a" < "é")
    v = [[1.0, 0.0], [0.99, 0.1], [1.0, 0.0]]
    vecs = [np.array(x) for x in v]
    assert ck.best_partners(vecs, 0.82).tolist() == [2, 0, 0]
    pairs = ck.pair_pending([30, 20, 10], vecs, 0.82)
    assert [(a, b) for _, _, a, b in pairs] == [(10, 30)]
    ids, _, counts, mapping = ck.merge_fixpoint(["é", "a", "Z"], vecs, [1, 1, 1], 0.5, 1)
    assert mapping == {"é": "Z"} and sorted(zip(ids, counts)) == [("Z", 2), ("a", 1)]


def test_kernel_dim_rules():
    """2x dims stride-downsample the longer side; any other mismatch
    never matches; zero or empty vectors score 0.0."""
    a = np.array([1.0, 0.0])
    two_x = np.array([1.0, 9.0, 0.1, -9.0])  # [::2] = [1.0, 0.1]
    odd = np.array([1.0, 0.0, 0.0])
    assert ck.best_partners([a, two_x], 0.9).tolist() == [1, 0]
    assert ck.best_partners([a, odd], -1.0).tolist() == [-1, -1]
    assert ck.best_partners([a, np.zeros(2), np.zeros(0)], -0.5).tolist() == [1, 0, 0]
    # the pair mean of a 2x pair follows zip_with: NULL past the shorter
    (_, c, _, _), = ck.pair_pending([1, 2], [a, two_x], 0.9)
    assert _out_vec(c) == [1.0, 4.5, None, None]


def _ref_stage(ids, vs):
    """The stage from scratch by the reference: pair, then merge the
    pairs. Returns (sorted survivors, {vec id: cluster id})."""
    pairs = _ref_pairs(ids, vs, 0.82)
    want, mapping, _ = _ref_merge([p[0] for p in pairs], [p[1] for p in pairs],
                                  [2] * len(pairs), 0.9)
    members = {m: mapping.get(cid, cid) for cid, _, _, a, b in pairs for m in (a, b)}
    return [(i, _hex(v), n) for i, v, n in want], members


def _stage_rows(out):
    return (sorted((r.cluster_id, _hex(r.centroid), r.member_count)
                   for r in out["clusters"].collect()),
            {r.vec_id: r.cluster_id for r in out["assignments"].collect()})


def test_kernels_through_spark_equal_reference(spark):
    """The stage's pairing and merge, through Spark and Arrow, equal
    the reference: from scratch (pairs, then their merge) and over a
    cluster table alone (the merge and its mapping)."""
    for seed in (101, 102):
        rng = random.Random(seed)
        vs = _random_set(rng, 30, 4)
        ids = rng.sample(range(-10**12, 10**12), len(vs))
        out = cluster_pipeline.run_clustering(
            spark, spark.createDataFrame(list(zip(ids, vs)), VEC_DDL))
        assert _stage_rows(out) == _ref_stage(ids, vs), seed

        vs = _random_set(rng, 30, 4)
        cids = _random_ids(rng, len(vs))
        counts = [rng.randint(1, 6) for _ in vs]
        out = _merge_only(spark, spark.createDataFrame(list(zip(cids, vs, counts)), CLUSTER_DDL))
        want, want_map, _ = _ref_merge(cids, vs, counts, 0.9)
        assert _stage_rows(out)[0] == [(i, _hex(v), n) for i, v, n in want if n >= 2], seed
        assert {r.old_cluster_id: r.new_cluster_id
                for r in out["merge_mapping"].collect()} == want_map, seed


def _kernel_input(spark, monkeypatch, run):
    """(the result of ``run()``, the rows and executed plan of the
    frame the stage hands its kernel task)."""
    frames = []
    cls = type(spark.range(1))
    real = cls.mapInArrow

    def spy(self, *a, **k):
        frames.append(self)
        return real(self, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(cls, "mapInArrow", spy)
        out = run()
    frame, = frames
    rows = frame.collect()
    return out, rows, frame._jdf.queryExecution().executedPlan().toString()


def test_pairing_cap_through_kernel(spark, monkeypatch):
    """Only the MAX_PENDING_PAIRING highest vec ids reach the kernel;
    the result equals the reference over exactly that window."""
    rng = random.Random(7)
    cap = clustering.MAX_PENDING_PAIRING
    n = cap + 150
    bases = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(40)]
    vs = [[x + rng.gauss(0, 0.05) for x in rng.choice(bases)] for _ in range(n)]
    ids = list(range(n))
    out, rows, _ = _kernel_input(spark, monkeypatch, lambda: cluster_pipeline.run_clustering(
        spark, spark.createDataFrame(list(zip(ids, vs)), VEC_DDL)))
    assert sorted(r.vec_id for r in rows if r.kind == "pending") == ids[-cap:]
    got = _stage_rows(out)
    assert got == _ref_stage(ids[-cap:], vs[-cap:])
    assert got[1] and min(got[1]) >= n - cap


def test_new_clusters_pairing_is_capped(spark, monkeypatch):
    """A 10k-row pending set must never feed the quadratic pairing:
    the working set is capped at 1000 by recency (db_access.py:93-94)
    with a top-k, never a global sort."""
    pending = spark.range(0, 10_000).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    out, rows, plan = _kernel_input(spark, monkeypatch, lambda: cluster_pipeline.run_clustering(
        spark, pending, assign_threshold=0.99))
    assert "TakeOrderedAndProject" in plan, "cap must be a top-k, not a sort"
    assert sorted(r.vec_id for r in rows if r.kind == "pending") == list(range(9_000, 10_000))
    # every seeded cluster references only ids from the top-1000 window
    members = [r.vec_id for r in out["assignments"].collect()]
    assert members and min(members) >= 9_000


def test_merge_fixpoint_many_passes_is_one_job(spark):
    """ROADMAP Finding 1: near-identical centroids merge on every pass.
    The per-pass join plan grew its size estimate ~x4 in digits per pass
    and stalled the driver; the kernel runs all passes in one task, so
    the fixpoint ends inside its 10-pass limit in seconds and the
    stage's Spark job count does not grow with the pass count."""
    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(f"c{i:04d}", [x + rng.gauss(0, 0.01) for x in base], 1) for i in range(300)]
    want, want_map, passes = _ref_merge([r[0] for r in rows], [r[1] for r in rows],
                                        [r[2] for r in rows], 0.9)
    assert passes >= 6

    many = spark.createDataFrame(rows, CLUSTER_DDL)
    one = spark.createDataFrame(rows[:2] + [("z", [-x for x in base], 1)], CLUSTER_DDL)

    t0 = time.perf_counter()
    out, jobs_many = spark_jobs(spark, lambda: _merge_only(spark, many))
    elapsed = time.perf_counter() - t0
    _, jobs_one = spark_jobs(spark, lambda: _merge_only(spark, one))
    assert elapsed < 30
    assert len(jobs_many) == len(jobs_one)

    assert _stage_rows(out)[0] == [(i, _hex(v), n) for i, v, n in want if n >= 2]
    assert out["merge_mapping"].count() == len(want_map) == 300 - len(want)


# ---------------------------------------------------------------------------
# merge fixpoint and pair ids as the stage returns them
# ---------------------------------------------------------------------------

_CHAIN = [
    ("a", [1.0, 0.0, 0.0], 2),
    ("b", [0.999, 0.04, 0.0], 2),
    ("c", [0.998, 0.06, 0.0], 3),
    ("d", [0.997, 0.07, 0.0], 3),
]


def test_merge_fixpoint_checkpoints_and_converges(spark):
    # four near-identical centroids: pass 1 merges two disjoint pairs,
    # pass 2 merges the survivors -> a single cluster
    out = _merge_only(spark, spark.createDataFrame(_CHAIN, CLUSTER_DDL),
                      merge_threshold=0.9)["clusters"]
    res = out.collect()
    assert len(res) == 1 and res[0].member_count == 10
    # the returned lineage must be a materialized checkpoint scan, not
    # the k-pass self-join tower (pass-k recompute is the r2 verdict's
    # scale-killer)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "Join" not in plan


def test_merge_fixpoint_mapping_is_transitive(spark):
    out = _merge_only(spark, spark.createDataFrame(_CHAIN, CLUSTER_DDL), merge_threshold=0.9)
    assert [r.cluster_id for r in out["clusters"].collect()] == ["a"]
    m = {r.old_cluster_id: r.new_cluster_id for r in out["merge_mapping"].collect()}
    # every absorbed id must resolve DIRECTLY to the final survivor —
    # transitively composed across passes, no chains left
    assert m == {"b": "a", "c": "a", "d": "a"}


def test_pair_clusters_get_stable_uuid_ids(spark):
    pend = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.1]), (7, [0.0, 1.0]), (9, [0.05, 0.99])], VEC_DDL)

    def ids():
        out = cluster_pipeline.run_clustering(spark, pend, assign_threshold=0.8)
        return {r.cluster_id for r in out["clusters"].collect()}

    # replay-stable, one cluster per pair, named after its members
    assert ids() == ids() == {pyoracle.deterministic_uuid("1#2"),
                              pyoracle.deterministic_uuid("7#9")}


# ---------------------------------------------------------------------------
# maintenance: zero-centroid repair and the unassign set
# ---------------------------------------------------------------------------


def test_repair_zero_centroids(spark):
    clusters = spark.createDataFrame(
        [
            ("c1", [0.0, 0.0], 2),     # all-zero -> repair to member mean
            ("c2", [1.0, 3.0], 2),     # healthy -> untouched
            ("c3", None, 1),           # NULL centroid, no members -> stays
        ],
        CLUSTER_DDL,
    )
    memberships = spark.createDataFrame(
        [(10, "c1"), (11, "c1"), (20, "c2"), (21, "c2")],
        "vec_id bigint, cluster_id string",
    )
    vectors = spark.createDataFrame(
        [(10, [2.0, 4.0]), (11, [4.0, 8.0]), (20, [9.0, 9.0]), (21, [1.0, 1.0])], VEC_DDL)
    out = {r.cluster_id: r for r in
           clustering.repair_zero_centroids(clusters, memberships, vectors).collect()}
    assert out["c1"].centroid == [3.0, 6.0] and out["c1"].repaired
    assert out["c2"].centroid == [1.0, 3.0] and not out["c2"].repaired
    assert out["c3"].centroid is None and not out["c3"].repaired


def test_unassigned_members(spark):
    m = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c"), (6, "c")],
        "vec_id bigint, cluster_id string",
    )
    out = clustering.unassigned_members(m).collect()
    assert [(r.vec_id, r.old_cluster_id) for r in out] == [(3, "b")]
