"""Similarity search over embedding columns.

- :func:`brute_force_topk` — exact cosine top-k: normalize once,
  broadcast the (small) query side, window-rank per query. The
  correctness baseline.
- :func:`ivf_topk` — IVF-style ANN: vectors are partitioned into cells
  (nearest coarse centroid); a query probes only the `nprobe` nearest
  cells and brute-forces within them. At 100 TB the cell assignment is
  a broadcast map-side op and the probe touches nprobe/nlist of the
  data — the scan cost drops proportionally. Coarse centroids come
  from :func:`kmeans_fit` (driver-iterated Lloyd's, deterministic
  lowest-id init) or, for fixtures, the label column.
- :func:`lsh_buckets` — sign-LSH bucketing (see plans/queries
  q_ann_lsh_buckets for the driver-facing version).

All math is double-precision JVM-side (functions/vectors) so results
sit under the DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors as vec_fn
from ..functions.colmemo import memo as _memo


def _normalized(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return vectors.select(*_memo(
        ("sim_normalized", id_col, vec_col),
        lambda: [
            F.col(id_col).cast("bigint").alias("vid"),
            vec_fn.l2_normalize(F.col(vec_col).cast("array<double>")).alias("v"),
        ],
    ))



def _cos_raw():
    """qv·v — memoized (the aggregate/zip_with HOF chain costs ~30 py4j
    round trips to build; the fragment is identical at every use)."""
    return _memo(("sim_cos_raw",), lambda: vec_fn.dot(F.col("qv"), F.col("v")))

def brute_force_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(qid, neighbor, cosine, rk) exact top-k per query vector."""
    normed = _normalized(vectors, id_col, vec_col)
    q = _normalized(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.asc("vid"))
    return (
        F.broadcast(q).crossJoin(normed)
        .where(F.col("qid") != F.col("vid"))
        .withColumn("cos_raw", _cos_raw())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", F.col("vid").alias("neighbor"),
                F.round("cos_raw", 6).alias("cosine"),
                F.col("rk").cast("bigint").alias("rk"))
    )


def _collect_cells(centroids: DataFrame) -> DataFrame:
    """One-row relation holding the O(k) centroid set as an array —
    the broadcastable form both the cell-assignment argmax and the
    probe selection share (one subtree -> one BroadcastExchange,
    reused)."""
    return centroids.agg(
        F.collect_list(F.struct(F.col("cell_id"), F.col("centroid"))).alias("_cells")
    )


def _argmax_cell_arr(normed: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """(vid, v, cell_id) — nearest centroid per vector with NO exchange
    at all: the centroid array row is broadcast and the argmax is a
    per-row array_min over struct(-cos, cell_id) — a pure projection.
    The r5 shape (crossJoin + min(struct) hash aggregate) still
    shuffled N pre-reduced rows; this removes that exchange entirely,
    so cell assignment scales as a narrow map over the vectors.
    Tie-break identical to a window ORDER BY (cos DESC, cell_id ASC)
    via lexicographic struct ordering (cosines are never NaN:
    zero-norm inputs produce 0.0 dot products)."""
    best = _memo(("sim_argmax_cell",), lambda: F.array_min(
        F.transform(
            F.col("_cells"),
            lambda c: F.struct(
                (-vec_fn.dot(F.col("v"), c["centroid"])).alias("neg_cs"),
                c["cell_id"].alias("cell_id"),
            ),
        )
    ))
    return normed.crossJoin(F.broadcast(cent_arr)).select(
        "vid", "v", best["cell_id"].alias("cell_id")
    )


def _argmax_cell(normed: DataFrame, centroids: DataFrame) -> DataFrame:
    return _argmax_cell_arr(normed, _collect_cells(centroids))


def cells_from_centroids(vectors: DataFrame, centroids: DataFrame,
                         id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest coarse centroid (cell_id)."""
    return _argmax_cell(_normalized(vectors, id_col, vec_col), centroids)


def kmeans_fit(
    vectors: DataFrame, k: int = 8, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd's) for IVF coarse centroids.

    Deterministic init: the k lowest-id vectors (normalized) seed the
    cells — reproducible across engines, no RNG. Each iteration:

      1. assign: every vector to its argmax-cosine centroid — the
         centroid set is O(k), broadcast; the argmax is a hash
         aggregate with map-side combine (see _argmax_cell — no
         window, no N×k shuffle);
      2. update: new centroid = elementwise mean of the cell's member
         vectors (posexplode + hash agg — the same shape as
         update_centroids), re-normalized (spherical k-means).

    The loop is driver-iterated; ``iters`` is small (coarse quantizers converge in a few passes). Each pass
    localCheckpoints the centroid set (O(k) rows) so iteration i+1's
    assignment scans the input ONCE against materialized centroids
    instead of re-executing i stacked assign+update stages. A cell that
    loses every member disappears (standard Lloyd's degeneracy; callers
    wanting fixed k re-seed — not needed for IVF where empty cells are
    simply never probed).

    Returns (cell_id bigint, centroid array<double>), L2-normalized —
    directly consumable by :func:`ivf_topk`.
    """
    normed = _normalized(vectors, id_col, vec_col)
    cents = (
        normed.orderBy("vid").limit(k)
        .withColumn("cell_id", F.row_number().over(Window.orderBy("vid")) - 1)
        .select(F.col("cell_id").cast("bigint").alias("cell_id"), F.col("v").alias("centroid"))
    )
    for _ in range(iters):
        assigned = _argmax_cell(normed, cents).select("cell_id", "v")
        means = (
            assigned.select("cell_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("val").alias("cv"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
            .select("cell_id", F.transform("pairs", lambda p: p["cv"]).alias("m"))
        )
        cents = means.select(
            "cell_id", vec_fn.l2_normalize(F.col("m")).alias("centroid")
        ).localCheckpoint(eager=True)
    return cents


def ivf_topk(
    vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
    k: int = 5, nprobe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: per query, search only the nprobe nearest cells.

    centroids: (cell_id bigint, centroid array<double>) — L2-normalized.
    Returns (qid, neighbor, cosine, rk).

    r6 shape: cell assignment AND probe selection both derive from ONE
    collected centroid-array relation (_collect_cells) — the vector
    side's argmax is a pure projection (no exchange, see
    _argmax_cell_arr) and the per-query nprobe cells come from an
    array_sort slice instead of a row_number window (same tie-break:
    struct(neg_qcs, cell_id) ascending == qcs DESC, cell_id ASC).
    Sharing the single-row subtree keeps one BroadcastExchange
    (reused), where the r5 plan computed the centroid lineage twice and
    paid a window sort for the probe ranking."""
    cent_arr = _collect_cells(centroids)
    cells = _argmax_cell_arr(_normalized(vectors, id_col, vec_col), cent_arr)
    q = _normalized(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv")
    )
    probe_structs = _memo(("ivf_probe_structs", nprobe), lambda: F.slice(
        F.array_sort(
            F.transform(
                F.col("_cells"),
                lambda c: F.struct(
                    (-vec_fn.dot(F.col("qv"), c["centroid"])).alias("neg_qcs"),
                    c["cell_id"].alias("cell_id"),
                ),
            )
        ),
        1, nprobe,
    ))
    probes = (
        q.crossJoin(F.broadcast(cent_arr))
        .select("qid", "qv", F.explode(probe_structs).alias("p"))
        .select("qid", "qv", F.col("p.cell_id").alias("cell_id"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.asc("vid"))
    # broadcast the O(queries x nprobe) probe side: without the hint the
    # planner (sizing the windowed probe subtree pessimistically) picked
    # a SortMergeJoin at sf0.1, shuffling EVERY cell-assigned vector by
    # a nlist-valued key — the exact skewed payload shuffle IVF exists
    # to avoid.
    return (
        F.broadcast(probes).join(cells, "cell_id")
        .where(F.col("qid") != F.col("vid"))
        .withColumn("cos_raw", _cos_raw())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", F.col("vid").alias("neighbor"),
                F.round("cos_raw", 6).alias("cosine"),
                F.col("rk").cast("bigint").alias("rk"))
    )


def _hyperplanes(dim: int, n_tables: int, n_bits: int, seed: int) -> list[list[list[float]]]:
    """Deterministic random hyperplanes [table][bit][dim] — a fixed-seed
    LCG (no numpy RNG state pitfalls, replay-stable across runs and
    machines, same rule as the deterministic salts elsewhere)."""
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(n_tables):
        tbl = []
        for _ in range(n_bits):
            row = []
            for _ in range(dim):
                state = (1103515245 * state + 12345) % (1 << 31)
                row.append(state / float(1 << 30) - 1.0)  # ~U(-1, 1)
            tbl.append(row)
        out.append(tbl)
    return out


def _lsh_sig(v, planes: list[list[float]]):
    """n_bits-bit signature of vector column v for one table."""
    bits = F.lit(0)
    for j, hp in enumerate(planes):
        h = F.array(*[F.lit(float(x)) for x in hp])
        bits = bits + F.when(vec_fn.dot(v, h) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bits.cast("bigint")


def lsh_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 10,
    n_tables: int = 8, n_bits: int = 8, seed: int = 4099,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN (the classic recall fix
    over single-table sign-LSH: P[collide in >=1 of L tables] =
    1-(1-p^b)^L, so adding tables recovers the neighbors one table's
    bucketing splits away — measured on a 64-center noisy corpus,
    recall@10 climbs 0.13 -> 0.38 -> 0.66 -> 0.87 at 1/4/8/16 tables of
    8 bits, while 12-bit buckets drop it to 0.26: tables buy recall,
    bits buy probe cheapness; see BENCH/recall.json).

    Scale shape: signatures are per-row JVM expressions (n_tables x
    n_bits dot products against literal hyperplanes — no Python, no
    fit/train pass unlike IVF); the vector side explodes to n_tables
    rows and shuffles ONCE on (table, sig); queries broadcast; matched
    candidates dedup (a pair colliding in several tables scores once)
    and exact-verify. Probe cost ~ n_tables * bucket_size, tuned by
    n_bits (bucket granularity) and n_tables (recall); the data
    replication factor is n_tables on the exchange only — nothing is
    stored.
    """
    dim = vectors.select(F.size(vec_col).alias("d")).first().d
    planes = _hyperplanes(dim, n_tables, n_bits, seed)
    normed = _normalized(vectors, id_col, vec_col)
    q = _normalized(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv")
    )

    def tabled(df: DataFrame, vcol: str) -> DataFrame:
        sigs = F.array(*[
            F.struct(F.lit(t).cast("int").alias("tbl"),
                     _lsh_sig(F.col(vcol), planes[t]).alias("sig"))
            for t in range(n_tables)
        ])
        return df.select("*", F.explode(sigs).alias("ts")).select(
            *df.columns, F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig")
        )

    cand = (
        F.broadcast(tabled(q, "qv"))
        .join(tabled(normed, "v"), ["tbl", "sig"])
        .where(F.col("qid") != F.col("vid"))
        .select("qid", "qv", "vid", "v")
        .dropDuplicates(["qid", "vid"])
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.asc("vid"))
    return (
        cand.withColumn("cos_raw", _cos_raw())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", F.col("vid").alias("neighbor"),
                F.round("cos_raw", 6).alias("cosine"),
                F.col("rk").cast("bigint").alias("rk"))
    )
