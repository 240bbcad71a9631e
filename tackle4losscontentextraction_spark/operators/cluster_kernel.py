"""numpy kernels for the clustering stage's two quadratic steps: the
pending x pending pairing and the cluster x cluster merge fixpoint.

Both run over a bounded working set (pairing is capped at
``MAX_PENDING_PAIRING`` rows; the merge input is the cluster table), so
:mod:`.clustering` hands each one its whole input as ONE Arrow batch
stream in one ``mapInArrow`` task and gets the result back in one pass
— no per-pass Spark jobs, no plan that grows with the pass count.

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
the O(n x dim) vectors themselves — never the n x n matrix. Time is
O(n^2 x dim) per pairing or merge pass, on one core: the pair count the
cross join scored, without its per-pass planning and jobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from .. import pyworker
from ..functions.ids import deterministic_uuid_py

BLOCK_ROWS = 256

PAIR_SCHEMA = (
    "cluster_id string, centroid array<double>, member_count int, "
    "member_a bigint, member_b bigint"
)
# one row per input cluster: survivors carry their merged state and a
# NULL new_cluster_id; absorbed ids carry only their final survivor
MERGE_SCHEMA = (
    "cluster_id string, centroid array<double>, member_count bigint, "
    "new_cluster_id string"
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
        mask=pa.array([v is None for v in vecs]))


def _table(batches: Iterator[pa.RecordBatch]) -> pa.Table | None:
    batches = [b for b in batches if b.num_rows]
    return pa.Table.from_batches(batches) if batches else None


def pair_batches(batches: Iterator[pa.RecordBatch], threshold: float
                 ) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: (vec_id, embedding) -> PAIR_SCHEMA rows."""
    pyworker.drop_spark_zip_importers()
    t = _table(batches)
    if t is None:
        return
    ids = t.column(0).to_pylist()
    rows = pair_pending(ids, _read_vectors(t.column(1)), threshold)
    if not rows:
        return
    cid, cen, a, b = zip(*rows)
    yield pa.RecordBatch.from_arrays(
        [pa.array(cid, pa.string()), _vector_array(list(cen)),
         pa.array([2] * len(rows), pa.int32()),
         pa.array(a, pa.int64()), pa.array(b, pa.int64())],
        names=["cluster_id", "centroid", "member_count", "member_a", "member_b"],
    )


def merge_batches(batches: Iterator[pa.RecordBatch], threshold: float,
                  max_passes: int) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: (cluster_id, centroid, member_count) ->
    MERGE_SCHEMA rows (survivors, then absorbed ids)."""
    pyworker.drop_spark_zip_importers()
    t = _table(batches)
    if t is None:
        return
    if t.column(2).null_count:
        raise ValueError("merge_clusters_fixpoint: member_count must not be NULL")
    ids, vecs, counts, mapping = merge_fixpoint(
        t.column(0).to_pylist(), _read_vectors(t.column(1)),
        t.column(2).to_pylist(), threshold, max_passes)
    old = list(mapping)
    none = [None] * len(old)
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids + old, pa.string()), _vector_array(vecs + none),
         pa.array(counts + none, pa.int64()),
         pa.array([None] * len(ids) + [mapping[o] for o in old], pa.string())],
        names=["cluster_id", "centroid", "member_count", "new_cluster_id"],
    )
