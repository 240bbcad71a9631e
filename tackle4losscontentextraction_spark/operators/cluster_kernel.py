"""numpy kernels for the cluster stage's bounded steps: the pending x
pending pairing (:func:`pair_pending`), the cluster x cluster merge
fixpoint (:func:`merge_fixpoint`), and the stage's single pass that
runs them (:func:`cluster_stage`: centroid update, pairing, merge,
recount, unassign and zero-centroid repair).

The stage runs over a bounded working set: the pending vectors capped
at ``MAX_PENDING_PAIRING`` rows, the cluster table, and the
per-cluster counts and per-position sums Spark aggregates. Its caller
(``plans/cluster_pipeline.run_clustering``, the only Spark entry to
these kernels) hands it the whole input as ONE Arrow batch stream in
one ``mapInArrow`` task and gets the result back in one pass — no
per-pass Spark jobs, no plan that grows with the pass count. The
input and output are each one frame whose ``kind`` column tells its
row kinds apart (:func:`stage_batches`).

The arithmetic is the Catalyst expressions' (functions/vectors.py),
operation for operation, so results are bit-identical to them:

- cosine: a sequential fold over dims, like ``aggregate``: dot product,
  then sum of squares, then ``sqrt``, then ``dot / (na * nb)``;
  vectorized over pairs, never over dims (no BLAS reordering);
- edge rules: either side empty -> 0.0; a 2x dim gap stride-downsamples
  the longer side; any other mismatch never matches; zero norm either
  side -> 0.0; a NULL vector or NULL element never matches (except the
  0.0 the SQL three-valued OR yields against an empty/zero-norm side);
- element-wise means follow ``zip_with``: the result is as long as the
  longer input, and positions past the shorter one are NULL.

Inside the kernels a vector is ``None`` (SQL NULL) or a float64 array
with NaN marking NULL elements; inputs are otherwise assumed finite.

Memory: similarities are computed ``BLOCK_ROWS`` rows at a time against
the whole set, so the working memory is O(BLOCK_ROWS x n) doubles plus
the O(n x dim) vectors themselves — never the n x n matrix. The stage
holds in addition one count per membership key and, for the clusters
being repaired, one sum and count per position; never a membership row
or a vector outside the capped pending set. Time is O(n^2 x dim) per
pairing or merge pass, on one core: the pair count the cross join
scored, without its per-pass planning and jobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from .. import pyworker
from ..functions.ids import deterministic_uuid_py

BLOCK_ROWS = 256

# the cluster stage's kernel (stage_batches): input rows of several
# kinds in one frame, and output rows of several kinds
STAGE_INPUT = (("kind", "string"), ("cluster_id", "string"), ("vec_id", "bigint"),
               ("vec", "array<double>"), ("n", "bigint"), ("pos", "int"), ("x", "double"))
STAGE_SCHEMA = (
    "kind string, cluster_id string, centroid array<double>, member_count bigint, "
    "repaired boolean, vec_id bigint, new_cluster_id string, unassigned boolean"
)


class _Group:
    """The vectors of one length (``dim`` None: the NULL vectors), as a
    matrix, with per-stride norms and transposed columns cached."""

    def __init__(self, dim: int | None, idx: list[int], vecs: list):
        self.dim = dim
        self.idx = np.asarray(idx, dtype=np.int64)
        self.mat = (np.stack([vecs[i] for i in idx]) if dim else
                    np.zeros((len(idx), 0)))
        self._norm: dict[int, np.ndarray] = {}
        self._cols: dict[int, np.ndarray] = {}

    def norm(self, stride: int) -> np.ndarray:
        if stride not in self._norm:
            m = self.mat[:, ::stride]
            acc = np.zeros(len(self.idx))
            for k in range(m.shape[1]):
                acc += m[:, k] * m[:, k]
            self._norm[stride] = np.sqrt(acc)
        return self._norm[stride]

    def cols(self, stride: int) -> np.ndarray:
        if stride not in self._cols:
            self._cols[stride] = np.ascontiguousarray(self.mat[:, ::stride].T)
        return self._cols[stride]


def _groups(vecs: list) -> list[_Group]:
    by_dim: dict[int | None, list[int]] = {}
    for i, v in enumerate(vecs):
        by_dim.setdefault(None if v is None else len(v), []).append(i)
    return [_Group(d, idx, vecs) for d, idx in by_dim.items()]


def _cos_block(a: _Group, lo: int, hi: int, b: _Group) -> np.ndarray:
    """cosine_similarity of rows a[lo:hi] against every vector of b."""
    m, n = hi - lo, len(b.idx)
    if a.dim is None or b.dim is None:
        # size/norm of a NULL vector are NULL: only `size = 0 OR ...`
        # and `norm = 0 OR ...` can still come out true
        out = np.full((m, n), np.nan)
        if a.dim is not None:
            out[(a.norm(1)[lo:hi] == 0.0) | (a.dim == 0), :] = 0.0
        elif b.dim is not None:
            out[:, (b.norm(1) == 0.0) | (b.dim == 0)] = 0.0
        return out
    if a.dim == 0 or b.dim == 0:
        return np.zeros((m, n))
    if a.dim == b.dim:
        sa = sb = 1
    elif a.dim == 2 * b.dim:
        sa, sb = 2, 1
    elif b.dim == 2 * a.dim:
        sa, sb = 1, 2
    else:
        return np.full((m, n), np.nan)
    rows, cols = a.mat[lo:hi, ::sa], b.cols(sb)
    dot, tmp = np.zeros((m, n)), np.empty((m, n))
    for k in range(rows.shape[1]):
        np.multiply(rows[:, k, None], cols[k], out=tmp)
        dot += tmp
    na, nb = a.norm(sa)[lo:hi], b.norm(sb)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = dot / np.multiply.outer(na, nb)
    out[(na == 0.0)[:, None] | (nb == 0.0)[None, :]] = 0.0
    return out


def best_partners(vecs: list, threshold: float) -> np.ndarray:
    """Per vector, the index of its best partner: the highest cosine
    strictly above ``threshold``, ties to the lowest index (callers sort
    by id, so the smallest id); -1 when none clears it. Row-blocked:
    O(BLOCK_ROWS x n) working memory."""
    n = len(vecs)
    best = np.full(n, -1, dtype=np.int64)
    groups = _groups(vecs)
    for a in groups:
        for lo in range(0, len(a.idx), BLOCK_ROWS):
            hi = min(lo + BLOCK_ROWS, len(a.idx))
            rows = a.idx[lo:hi]
            s = np.empty((hi - lo, n))
            for b in groups:
                s[:, b.idx] = _cos_block(a, lo, hi, b)
            s[np.arange(hi - lo), rows] = np.nan  # no self pairs
            ok = s > threshold
            hit = ok.any(axis=1)
            j = np.argmax(np.where(ok, s, -np.inf), axis=1)
            best[rows[hit]] = j[hit]
    return best


def mutual_pairs(best: np.ndarray) -> list[tuple[int, int]]:
    """(i, j), i < j, where j is i's best partner and i is j's: each
    index lands in at most one pair (disjoint greedy matching)."""
    i = np.flatnonzero(best > np.arange(len(best)))
    j = best[i]
    keep = best[j] == i
    return list(zip(i[keep].tolist(), j[keep].tolist()))


def zip_mean(a, b, na: int = 1, nb: int = 1):
    """``zip_with(a, b, (x*na + y*nb) / (na+nb))`` over nullable vectors
    (bigint weights, as the SQL casts them). Unit weights give exactly
    the pair mean ``(x + y) / 2``: ``x*1.0`` and ``1.0+1.0`` are exact."""
    if a is None or b is None:
        return None
    k = min(len(a), len(b))
    out = np.full(max(len(a), len(b)), np.nan)
    out[:k] = (a[:k] * float(na) + b[:k] * float(nb)) / float(na + nb)
    return out


def pair_pending(ids: list[int], vecs: list, threshold: float) -> list[tuple]:
    """Mutual-best pairs of pending vectors above ``threshold``; ties go
    to the smallest vec id. Returns (cluster_id, centroid, member_a,
    member_b) with member_a < member_b."""
    order = sorted(range(len(ids)), key=ids.__getitem__)
    ids = [ids[i] for i in order]
    vecs = [vecs[i] for i in order]
    return [
        (deterministic_uuid_py(f"{ids[i]}#{ids[j]}"), zip_mean(vecs[i], vecs[j]),
         ids[i], ids[j])
        for i, j in mutual_pairs(best_partners(vecs, threshold))
    ]


def merge_fixpoint(ids: list[str], vecs: list, counts: list[int],
                   threshold: float, max_passes: int):
    """At most ``max_passes`` passes; each merges every mutual-best pair
    above ``threshold`` into its smaller id (UTF-8 byte order) with the
    weighted mean, and stops early once a pass merges nothing.

    Returns (ids, vecs, counts, mapping): the surviving clusters and
    {absorbed id: final survivor}, resolved across passes."""
    order = sorted(range(len(ids)), key=lambda i: ids[i].encode("utf-8"))
    ids = [ids[i] for i in order]
    vecs = [vecs[i] for i in order]
    counts = [counts[i] for i in order]
    mapping: dict[str, str] = {}
    for _ in range(max_passes):
        pairs = mutual_pairs(best_partners(vecs, threshold))
        if not pairs:
            break
        step = {}
        for i, j in pairs:
            vecs[i] = zip_mean(vecs[i], vecs[j], counts[i], counts[j])
            counts[i] += counts[j]
            step[ids[j]] = ids[i]
        mapping = {old: step.get(new, new) for old, new in mapping.items()}
        mapping.update(step)
        keep = [k for k in range(len(ids)) if ids[k] not in step]
        ids = [ids[k] for k in keep]
        vecs = [vecs[k] for k in keep]
        counts = [counts[k] for k in keep]
    return ids, vecs, counts, mapping


def running_mean(c, s, n: int, k: int):
    """``zip_with(c, s, (x*n + y) / (n+k))`` over nullable vectors
    (bigint n, k, as update_centroids casts them)."""
    if c is None:
        return None
    m = min(len(c), len(s))
    out = np.full(max(len(c), len(s)), np.nan)
    out[:m] = (c[:m] * float(n) + s[:m]) / float(n + k)
    return out


def is_broken(v) -> bool:
    """``repair_zero_centroids``' test: a NULL centroid, or one whose
    elements are all exactly 0.0 (empty included). A NULL element makes
    the SQL ``exists`` NULL, which is not broken."""
    return v is None or (not np.isnan(v).any() and not np.any(v != 0.0))


def cluster_stage(clusters: tuple[list, list, list], sums: dict,
                  pending: tuple[list, list], counts: dict | None,
                  repair: dict, assign_threshold: float,
                  merge_threshold: float, max_passes: int):
    """The cluster stage's whole bounded step: the centroid update, the
    pending pairing, the merge fixpoint over the cluster table plus the
    new pairs, then recount, the unassign set and the zero-centroid
    repair.

    - ``clusters``: (ids, centroids, member counts) of the cluster table;
    - ``sums``: cluster id -> (per-position sums, assigned vector count)
      of this batch's fresh assignments (``clustering.update_sums``),
      folded in as ``update_centroids`` does;
    - ``pending``: (vec ids, vectors), the capped pending set, none of
      which holds a membership row;
    - ``counts``: membership rows per cluster id before the pairing
      (the prior rows plus the fresh assignments); None skips
      maintenance;
    - ``repair``: cluster id -> (per-position sums, per-position
      non-NULL counts) of its members' vectors, for the clusters whose
      input centroid is broken.

    Returns (clusters, members, redirect): the live clusters as (id,
    centroid, member count, repaired; None without maintenance); the
    pair members as (vec id, cluster id, unassigned); and, for every
    membership key that moves or loses its members, key -> (key after
    the merge mapping, unassigned). Recount and unassign follow
    ``clustering.recount_members`` / ``unassigned_members``: a key with
    fewer than 2 rows loses them, a cluster with fewer than 2 is gone.
    Repair is exact when the thresholds are >= 0: a broken centroid
    then scores 0.0 or NULL against everything, so it takes no fresh
    member and no merge, and its members are its prior ones."""
    c_ids, c_vecs, c_ns = clusters
    c_vecs = [running_mean(v, sums[i][0], n, sums[i][1]) if i in sums else v
              for i, v, n in zip(c_ids, c_vecs, c_ns)]
    c_ns = [n + sums[i][1] if i in sums else n for i, n in zip(c_ids, c_ns)]
    p_ids, p_vecs = pending
    pairs = pair_pending(p_ids, p_vecs, assign_threshold)
    ids, vecs, ns, mapping = merge_fixpoint(
        list(c_ids) + [p[0] for p in pairs], c_vecs + [p[1] for p in pairs],
        c_ns + [2] * len(pairs), merge_threshold, max_passes)
    live = [(i, v, n) for i, v, n in zip(ids, vecs, ns) if n >= 2]
    members = [(m, mapping.get(cid, cid)) for cid, _, a, b in pairs for m in (a, b)]
    if counts is None:
        return ([(i, v, n, None) for i, v, n in live],
                [(m, cid, False) for m, cid in members],
                {k: (t, False) for k, t in mapping.items()})
    held = dict(counts)
    for cid, _, _, _ in pairs:
        held[cid] = held.get(cid, 0) + 2
    final: dict = {}
    for k, n in held.items():
        t = mapping.get(k, k)
        final[t] = final.get(t, 0) + n
    gone = {k for k, n in final.items() if n < 2}
    out = []
    for i, v, _ in live:
        n = final.get(i, 0)
        if n < 2:
            continue
        fixed = is_broken(v) and i in repair
        if fixed:
            s, c = repair[i]
            with np.errstate(divide="ignore", invalid="ignore"):
                v = np.where(c > 0, s / c, np.nan)
        out.append((i, v, n, fixed))
    redirect = {}
    for k in held.keys() | mapping.keys():
        t = mapping.get(k, k)
        if t != k or t in gone:
            redirect[k] = (t, t in gone)
    return out, [(m, cid, cid in gone) for m, cid in members], redirect


# ---- Arrow boundary -------------------------------------------------------


def _read_vectors(col: pa.ChunkedArray) -> list:
    arr = col.combine_chunks()
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False)
    nulls = arr.is_null().to_numpy(zero_copy_only=False)
    return [None if nulls[r] else values[offsets[r]:offsets[r + 1]]
            for r in range(len(arr))]


def _vector_array(vecs: list) -> pa.Array:
    lens = np.array([0 if v is None else len(v) for v in vecs], dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    flat = np.concatenate([np.zeros(0)] + [v for v in vecs if v is not None])
    values = pa.array(flat, pa.float64(), mask=np.isnan(flat))
    return pa.ListArray.from_arrays(
        pa.array(offsets), values,
        mask=pa.array([v is None for v in vecs], pa.bool_()))


def _table(batches: Iterator[pa.RecordBatch]) -> pa.Table | None:
    batches = [b for b in batches if b.num_rows]
    return pa.Table.from_batches(batches) if batches else None


def _by_position(ids: list, pos: list, x: list, n: list) -> dict:
    """Per-position rows (id, pos, x, n) -> {id: (x array, n array)},
    NaN (SQL NULL) for a NULL x."""
    out: dict = {}
    for i, p, xv, nv in zip(ids, pos, x, n):
        out.setdefault(i, []).append((p, xv, nv))
    arrays = {}
    for i, rows in out.items():
        size = max(p for p, _, _ in rows) + 1
        xs, ns = np.full(size, np.nan), np.zeros(size, dtype=np.int64)
        for p, xv, nv in rows:
            xs[p] = np.nan if xv is None else xv
            ns[p] = nv
        arrays[i] = (xs, ns)
    return arrays


def stage_batches(batches: Iterator[pa.RecordBatch], assign_threshold: float,
                  merge_threshold: float, max_passes: int, maintain: bool
                  ) -> Iterator[pa.RecordBatch]:
    """mapInArrow body of :func:`cluster_stage`: STAGE_INPUT rows, told
    apart by ``kind``, -> STAGE_SCHEMA rows ('cluster', 'member',
    'redirect'). Input kinds: 'cluster' (cluster_id, vec, n); 'sum'
    (cluster_id, pos, x, n): the centroid sums, and with a NULL pos the
    membership rows per cluster; 'repair' (cluster_id, pos, x, n);
    'pending' (vec_id, vec)."""
    pyworker.drop_spark_zip_importers()
    t = _table(batches)
    rows: dict[str, list[int]] = {}
    for r, k in enumerate([] if t is None else t.column("kind").to_pylist()):
        rows.setdefault(k, []).append(r)

    def pick(kind: str, *names: str) -> list:
        idx = rows.get(kind, [])
        if not idx:
            return [[] for _ in names]
        part = t.take(idx)
        return [_read_vectors(part.column(c)) if c == "vec" else part.column(c).to_pylist()
                for c in names]

    c_ids, c_vecs, c_ns = pick("cluster", "cluster_id", "vec", "n")
    if None in c_ns:
        raise ValueError("cluster stage: member_count must not be NULL")
    s_ids, s_pos, s_x, s_n = pick("sum", "cluster_id", "pos", "x", "n")
    at = [r for r, p in enumerate(s_pos) if p is not None]
    sums = {i: (x, int(n[0])) for i, (x, n) in _by_position(
        *[[col[r] for r in at] for col in (s_ids, s_pos, s_x, s_n)]).items()}
    counts = {i: n for i, p, n in zip(s_ids, s_pos, s_n) if p is None}
    clusters, members, redirect = cluster_stage(
        (c_ids, c_vecs, c_ns), sums, tuple(pick("pending", "vec_id", "vec")),
        counts if maintain else None,
        _by_position(*pick("repair", "cluster_id", "pos", "x", "n")),
        assign_threshold, merge_threshold, max_passes)
    nc, nm, nr = len(clusters), len(members), len(redirect)
    yield pa.RecordBatch.from_arrays([
        pa.array(["cluster"] * nc + ["member"] * nm + ["redirect"] * nr, pa.string()),
        pa.array([c[0] for c in clusters] + [m[1] for m in members] + list(redirect),
                 pa.string()),
        _vector_array([c[1] for c in clusters] + [None] * (nm + nr)),
        pa.array([c[2] for c in clusters] + [None] * (nm + nr), pa.int64()),
        pa.array([c[3] for c in clusters] + [None] * (nm + nr), pa.bool_()),
        pa.array([None] * nc + [m[0] for m in members] + [None] * nr, pa.int64()),
        pa.array([None] * (nc + nm) + [r[0] for r in redirect.values()], pa.string()),
        pa.array([None] * nc + [m[2] for m in members] + [r[1] for r in redirect.values()],
                 pa.bool_()),
    ], names=["kind", "cluster_id", "centroid", "member_count", "repaired", "vec_id",
              "new_cluster_id", "unassigned"])
