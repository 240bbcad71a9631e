"""Clustering stage rebuilt as batch dataflow.

Reference (src/modules/clustering/cluster_articles.py:38-142 +
cluster_manager.py): greedy sequential assignment of each unclustered
article to the best cosine-matching cluster (> 0.82), running-mean
centroid updates, pairing of the still-pending articles, pairwise
cluster merging (> 0.9, <= 10 passes), member-count recount. Only
articles with no cluster yet are clustered (``cluster_id IS NULL``,
the 1000 most recent; db_access.py:71-115, SURVEY S4).

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
- pairing and merging — disjoint mutual-best pairing of the pending
  vectors (capped at MAX_PENDING_PAIRING) into 2-member clusters, then
  repeated mutual-best merging above the merge threshold with the
  reference's weighted mean (cluster_manager.py:239-241), <=
  MAX_MERGE_PASSES (:128): numpy kernels
  (:func:`.cluster_kernel.pair_pending`, :func:`.cluster_kernel.merge_fixpoint`).
- :func:`recount_members` / :func:`unassigned_members` — the count
  fixer (sql/recalculate_all_cluster_member_counts.sql): recount,
  delete 0/1-member clusters, unassign their members;
  :func:`repair_zero_centroids` — the zero-centroid repair.

Scale: assignment and the centroid sums touch every vector to cluster,
so they stay Spark joins and aggregates — centroids are O(clusters)
and broadcast; vectors never shuffle for scoring. Everything after
them works on BOUNDED sets (the capped pending set; the cluster table
and its per-cluster counts and sums), where a cross-join plan costs
more in query planning and job scheduling than in arithmetic, so it
runs in numpy (:mod:`.cluster_kernel`) over the whole set in ONE
mapInArrow task. That task is the cluster stage's
(plans/cluster_pipeline.run_clustering), the only Spark entry to the
kernels: the update, pairing, merge, recount, unassign and repair in
one call. The kernels compute similarities in row blocks against the
whole set, so their memory is O(BLOCK_ROWS x set size) plus the set,
and they reproduce the Catalyst cosine's sequential fold, so results
are bit-identical to it. :func:`update_centroids`,
:func:`recount_members`, :func:`unassigned_members` and
:func:`repair_zero_centroids` stay the Catalyst statements of what the
stage's kernel does (oracle queries use the last two)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors as vec_fn

ASSIGN_THRESHOLD = 0.82  # cluster_manager.py:41
MERGE_THRESHOLD = 0.9    # cluster_pipeline.py:62
MAX_MERGE_PASSES = 10    # cluster_articles.py:128-130
MAX_PENDING_PAIRING = 1000  # db_access.py:93-94 (LIMIT 1000 working set)


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


def update_sums(elements: DataFrame) -> DataFrame:
    """(cluster_id, pos, s, k) from :func:`assigned_elements` rows: per
    cluster and position, the sum of the assigned elements and their
    count — the cluster-table-sized aggregate :func:`update_centroids`
    (and the cluster stage's kernel) fold into the running mean."""
    return elements.groupBy("cluster_id", "pos").agg(
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
