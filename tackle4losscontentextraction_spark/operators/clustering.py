"""Clustering stage rebuilt as batch dataflow.

Reference (src/modules/clustering/cluster_articles.py:38-142 +
cluster_manager.py): greedy sequential assignment of each unclustered
article to the best cosine-matching cluster (> 0.82), running-mean
centroid updates, pairwise cluster merging (> 0.9, <= 10 passes),
member-count recount.

The reference's assignment is order-dependent (each assignment mutates
the centroids seen by later articles — SURVEY §3.3). The faithful batch
rendition here:

- :func:`assign_to_clusters` — one pass: every vector scored against
  the CURRENT (broadcast) centroid set; argmax > threshold assigned.
  This is the reference semantics with centroids frozen per pass.
- :func:`update_centroids` — batch running-mean: new centroid =
  (old*n + sum(assigned)) / (n + k)  — the k-step composition of the
  reference's per-row update (cluster_manager.py:81), exact for the
  same membership set.
- :func:`new_clusters_from_pairs` — disjoint mutual-best pairing of
  the pending vectors (capped at MAX_PENDING_PAIRING) into 2-member
  clusters.
- :func:`merge_clusters_fixpoint` — repeated mutual-best merging above
  the merge threshold with the reference's weighted mean
  (cluster_manager.py:239-241), <= max_passes (:128).
- :func:`recount_members` — the count fixer
  (sql/recalculate_all_cluster_member_counts.sql): recount, delete
  0/1-member clusters, unassign their members.

Scale: assignment and the centroid sums touch every vector, so they
stay Spark joins and aggregates — centroids are O(clusters) and
broadcast; vectors never shuffle for scoring. Everything after them
works on BOUNDED sets (the capped pending set; the cluster table and
its per-cluster counts and sums), where a cross-join plan costs more
in query planning and job scheduling than in arithmetic, so it runs
in numpy (:mod:`.cluster_kernel`) over the whole set in ONE
mapInArrow task. The cluster stage (plans/cluster_pipeline.py) makes
the update, pairing, merge, recount, unassign and repair one kernel
call; :func:`new_clusters_from_pairs` and
:func:`merge_clusters_fixpoint` run the pairing or the merge alone.
The kernels compute similarities in row blocks against the whole set,
so their memory is O(BLOCK_ROWS x set size) plus the set, and they
reproduce the Catalyst cosine's sequential fold, so results are
bit-identical to it. :func:`update_centroids`,
:func:`recount_members`, :func:`unassigned_members` and
:func:`repair_zero_centroids` stay the Catalyst statements of what the
stage's kernel does (oracle queries use the last three). The kernel
module (numpy, pyarrow) is imported on the first call that needs it,
not when this module is."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors as vec_fn

ASSIGN_THRESHOLD = 0.82  # cluster_manager.py:41
MERGE_THRESHOLD = 0.9    # cluster_pipeline.py:62
MAX_MERGE_PASSES = 10    # cluster_articles.py:128-130


def assign_to_clusters(
    vectors: DataFrame,
    clusters: DataFrame,
    threshold: float = ASSIGN_THRESHOLD,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster_id, cosine) for vectors whose best centroid
    clears the threshold. clusters: (cluster_id, centroid, member_count).

    The per-vector argmax is a hash aggregate over min(struct(-cos,
    cluster_id)) rather than a window rank: partial (map-side) combine
    reduces the N×k scored rows to N before the shuffle, which a
    window cannot do. Tie-break matches ORDER BY cos DESC, id ASC."""
    sim = vec_fn.cosine_similarity(
        F.col(vec_col).cast("array<double>"), F.col("centroid").cast("array<double>")
    )
    scored = (
        vectors.crossJoin(F.broadcast(clusters.select("cluster_id", "centroid")))
        .select(
            vec_id,
            F.struct((-sim).alias("neg_cs"), F.col("cluster_id").alias("cluster_id")).alias("sc"),
        )
    )
    return (
        # NULL cosines (dim-mismatch centroids) must not win the min —
        # struct ordering puts NULL fields first, unlike DESC NULLS LAST
        scored.where(F.col("sc.neg_cs").isNotNull())
        .groupBy(vec_id)
        .agg(F.min("sc").alias("best"))
        .select(vec_id, F.col("best.cluster_id").alias("cluster_id"),
                (-F.col("best.neg_cs")).alias("cosine"))
        .where(F.col("cosine") > threshold)
    )


def assigned_elements(
    vectors: DataFrame, assignments: DataFrame,
    vec_id: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(cluster_id, pos, val): every element of every assigned vector."""
    joined = assignments.join(vectors, vec_id).select(
        "cluster_id", F.col(vec_col).cast("array<double>").alias("v")
    )
    return joined.select("cluster_id", F.posexplode("v").alias("pos", "val"))


def update_sums(elements: DataFrame, *keys: str) -> DataFrame:
    """(cluster_id, pos, *keys, s, k) from :func:`assigned_elements`
    rows: per cluster and position (and ``keys``), the sum of the
    assigned elements and their count — the cluster-table-sized
    aggregate :func:`update_centroids` (and the cluster stage's kernel)
    fold into the running mean."""
    return elements.groupBy("cluster_id", "pos", *keys).agg(
        F.sum("val").alias("s"), F.count("*").alias("k"))


def update_centroids(
    clusters: DataFrame, vectors: DataFrame, assignments: DataFrame,
    vec_id: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Batch running-mean update: (old*n + sum(new members)) / (n + k)."""
    sums = (
        update_sums(assigned_elements(vectors, assignments, vec_id, vec_col))
        .groupBy("cluster_id")
        .agg(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda p: p["s"]).alias("vsum"),
            F.first("k").alias("k"),
        )
    )
    return (
        clusters.join(sums, "cluster_id", "left")
        .select(
            "cluster_id",
            F.when(
                F.col("vsum").isNotNull(),
                F.zip_with(
                    F.col("centroid").cast("array<double>"), F.col("vsum"),
                    lambda c, s: (c * F.col("member_count") + s) / (F.col("member_count") + F.col("k")),
                ),
            ).otherwise(F.col("centroid").cast("array<double>")).alias("centroid"),
            (F.col("member_count") + F.coalesce(F.col("k"), F.lit(0))).alias("member_count"),
        )
    )


MAX_PENDING_PAIRING = 1000  # db_access.py:93-94 (LIMIT 1000 working set)


def new_clusters_from_pairs(
    pending: DataFrame, threshold: float = ASSIGN_THRESHOLD,
    vec_id: str = "vec_id", vec_col: str = "embedding",
    max_pending: int = MAX_PENDING_PAIRING,
) -> DataFrame:
    """J4 analog: pending vectors pair up into 2-member clusters
    (centroid = pair mean). The matching is DISJOINT mutual-best: a pair
    above ``threshold`` is kept iff each member is the other's best
    partner (ties to the smaller vec id), so each pending vector seeds
    at most one cluster — the parallel analog of the reference's
    sequential greedy pairing.

    The pairing is quadratic, so the working set is capped at
    ``max_pending`` rows exactly as the reference caps its fetch
    (db_access.py:93-94, LIMIT 1000 most-recent): top-k by descending
    id (the corpus' recency proxy) via TakeOrderedAndProject — never a
    global sort. Overflow rows stay pending for the next pipeline run,
    which is the reference's behavior too. The capped set is paired by
    :func:`cluster_kernel.pair_pending` in ONE mapInArrow task, in
    O(BLOCK_ROWS x max_pending) memory.

    Cluster ids are C10's deterministic form of the reference's uuid4
    (db_access.py:249): a name-based UUID over "vid#vid_b", so a
    retried/replayed batch mints the SAME cluster id."""
    from . import cluster_kernel as ck

    if max_pending is not None:
        pending = pending.orderBy(F.desc(vec_id)).limit(max_pending)

    def pair(batches):
        return ck.pair_batches(batches, threshold)

    return pending.select(
        F.col(vec_id).cast("bigint"), F.col(vec_col).cast("array<double>")
    ).coalesce(1).mapInArrow(pair, ck.PAIR_SCHEMA)


def merge_clusters_fixpoint(
    clusters: DataFrame, threshold: float = MERGE_THRESHOLD, max_passes: int = MAX_MERGE_PASSES,
    return_mapping: bool = False,
):
    """Pairwise cluster merging (weighted mean, cluster_manager.py:
    239-241), <= max_passes (cluster_articles.py:128): each pass merges
    the disjoint mutual-best pairs above ``threshold`` (ties to the
    smaller cluster id) into the smaller id, until a pass merges nothing.

    The whole fixpoint is :func:`cluster_kernel.merge_fixpoint` run ONCE
    over the cluster table in one mapInArrow task (O(BLOCK_ROWS x
    clusters) memory), and its output is localCheckpointed: one Spark
    job however many passes run, and the returned plan is a scan of the
    materialized state, not a pass-deep join tower.

    With ``return_mapping=True`` also returns (clusters, mapping) where
    mapping = (old_cluster_id, new_cluster_id) for every ABSORBED id,
    transitively resolved across passes — the UPDATE set callers apply
    to their membership table (the reference likewise re-points members
    when clusters merge); without remapping, members recorded under an
    absorbed id would reference a nonexistent cluster."""
    from . import cluster_kernel as ck

    def merge(batches):
        return ck.merge_batches(batches, threshold, max_passes)

    state = clusters.select(
        "cluster_id",
        F.col("centroid").cast("array<double>"),
        F.col("member_count").cast("bigint"),
    ).coalesce(1).mapInArrow(merge, ck.MERGE_SCHEMA).localCheckpoint(eager=True)
    out = state.where(F.col("new_cluster_id").isNull()).drop("new_cluster_id")
    if return_mapping:
        mapping = state.where(F.col("new_cluster_id").isNotNull()).select(
            F.col("cluster_id").alias("old_cluster_id"), "new_cluster_id")
        return out, mapping
    return out


def recount_members(clusters: DataFrame, memberships: DataFrame) -> DataFrame:
    """The count fixer, keep side: true counts per cluster; 0/1-member
    clusters are dropped. The matching unassignment set for the dropped
    clusters' members is :func:`unassigned_members` — together they are
    the full fixer (sql/recalculate_all_cluster_member_counts.sql:14-85)."""
    counts = memberships.groupBy("cluster_id").agg(F.count("*").alias("true_count"))
    return (
        clusters.join(counts, "cluster_id", "left")
        .withColumn("true_count", F.coalesce("true_count", F.lit(0)))
        .where(F.col("true_count") >= 2)
        .select("cluster_id", "centroid", F.col("true_count").alias("member_count"))
    )


def unassigned_members(
    memberships: DataFrame, member_id: str = "vec_id"
) -> DataFrame:
    """The count fixer, unassign side
    (sql/recalculate_all_cluster_member_counts.sql:14-85 +
    db_access.py:408-523): members of clusters with < 2 true members
    get ``cluster_id`` nulled. Emits (member_id, old_cluster_id) — the
    UPDATE set the storage layer applies (merge.update_columns with a
    NULL cluster_id, or Iceberg MERGE ... SET cluster_id = NULL).

    One window count over the membership table, no join: the per-key
    count is computed alongside the rows that need it."""
    w = Window.partitionBy("cluster_id")
    return (
        memberships.withColumn("_n", F.count("*").over(w))
        .where(F.col("_n") < 2)
        .select(F.col(member_id), F.col("cluster_id").alias("old_cluster_id"))
    )


def repair_zero_centroids(
    clusters: DataFrame,
    memberships: DataFrame,
    vectors: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Zero-centroid repair (db_access.py:319-406): clusters whose
    stored centroid is NULL or all-zero get it recomputed as the MEAN
    of their members' embeddings; healthy clusters pass through.

    Dataflow: filter the (small) broken cluster set, semi-join the
    membership table down to just their members, posexplode+avg the
    member embeddings (the same elementwise-mean shape as
    update_centroids), and left-join the repairs back. Clusters with a
    broken centroid and no members stay broken (the reference skips
    them too) — flagged by ``repaired = false``.
    """
    is_zero = F.col("centroid").isNull() | ~F.exists(
        F.col("centroid"), lambda x: x != 0.0
    )
    flagged = clusters.withColumn("_broken", is_zero)
    broken_ids = flagged.where("_broken").select("cluster_id")
    member_vecs = (
        memberships.join(F.broadcast(broken_ids), "cluster_id")
        .join(vectors.select(F.col(vec_id), F.col(vec_col)), vec_id)
        .select("cluster_id", F.col(vec_col).cast("array<double>").alias("v"))
    )
    means = (
        member_vecs.select("cluster_id", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("cluster_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select(
            "cluster_id",
            F.transform("pairs", lambda p: p["cv"]).alias("repaired_centroid"),
        )
    )
    return (
        flagged.join(means, "cluster_id", "left")
        .select(
            "cluster_id",
            F.when(
                F.col("_broken") & F.col("repaired_centroid").isNotNull(),
                F.col("repaired_centroid"),
            ).otherwise(F.col("centroid").cast("array<double>")).alias("centroid"),
            "member_count",
            (F.col("_broken") & F.col("repaired_centroid").isNotNull()).alias("repaired"),
        )
    )
