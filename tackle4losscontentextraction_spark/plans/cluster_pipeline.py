"""End-to-end clustering job (the batch rendition of
scripts/cluster_pipeline.py + cluster_articles.py — SURVEY §3.3).

Stages (reference line refs in operators/clustering.py):

  1. age sweep      : clusters idle > max_age -> status OLD
                      (db_access.py:568-590; plain timestamp filter)
  2. assign         : unclustered vectors vs broadcast centroids,
                      argmax cosine > 0.82
  3. centroid update: batch running-mean over new members
  4. pair clusters  : mutual-best pending x pending pairs > 0.82 seed
                      2-member clusters
  5. merge fixpoint : weighted-mean merging > 0.9, <= 10 passes
  6. recount        : drop 0/1-member clusters

Stages 2-3 are Spark joins and aggregates over all vectors. Stages 4-5
work on bounded sets — the pending pairing is capped at
MAX_PENDING_PAIRING rows, the merge sees the cluster table — and each
runs as one numpy kernel (operators/cluster_kernel.py) in one
mapInArrow task, in O(BLOCK_ROWS x set size) memory: one Spark job
each, however many merge passes run. :func:`run_clustering`
materializes the assignments, the pair clusters and the merged state
once, so the caller's writes and counts re-run none of it.

The reference's greedy per-article order-dependence (SURVEY §3.3) is
deliberately replaced by frozen-centroid passes — documented batch
variant; outputs are deterministic and order-free.

Clustering state between runs: :func:`read_state`, :func:`commit_state`."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..operators import clustering


def sweep_old_clusters(clusters: DataFrame, now_ts, max_age_days: int = 3) -> DataFrame:
    """status -> OLD for clusters idle longer than max_age_days."""
    if "updated_at" not in clusters.columns:
        return clusters.withColumn("status", F.lit("UPDATED"))
    cutoff = F.lit(now_ts).cast("timestamp") - F.expr(f"INTERVAL {max_age_days} DAYS")
    return clusters.withColumn(
        "status",
        F.when(F.col("updated_at") < cutoff, F.lit("OLD")).otherwise(F.coalesce(F.col("status"), F.lit("UPDATED"))),
    )


def mark_content_stale(clusters: DataFrame, touched: DataFrame) -> DataFrame:
    """isContent maintenance (db_access.py:167-209, cluster_manager.py:83-84):
    every cluster UPDATE in the reference resets ``isContent`` to False
    (the cluster's generated content is stale until regenerated), so
    clusters in the ``touched`` set get ``is_content = false``; the rest
    keep their flag. ``touched``: (cluster_id) of clusters whose
    centroid/member_count changed this pass."""
    # distinct first: touched arrives at whatever grain the caller had
    # (often one row per member), and a left join against duplicate
    # cluster_ids would duplicate cluster rows in the output
    t = touched.select("cluster_id").distinct().withColumn("__touched", F.lit(True))
    return (
        clusters.join(t, "cluster_id", "left")
        .withColumn(
            "is_content",
            F.when(F.col("__touched"), F.lit(False)).otherwise(F.col("is_content")),
        )
        .drop("__touched")
    )


def run_clustering(
    spark: SparkSession,
    vectors: DataFrame,
    clusters: DataFrame | None = None,
    assign_threshold: float = clustering.ASSIGN_THRESHOLD,
    merge_threshold: float = clustering.MERGE_THRESHOLD,
) -> dict[str, DataFrame]:
    """vectors(vec_id, embedding) [+ existing clusters(cluster_id,
    centroid, member_count)] -> {clusters, assignments, pending,
    merge_mapping}.

    The fresh assignments and the new pair clusters are materialized
    once (localCheckpoint): the centroid update, the pending anti-join,
    the merge input and the returned assignments all read them, and
    each read would otherwise re-run the assignment scoring or the
    pairing kernel. An empty cluster table needs no branch of its own
    — it assigns nothing."""
    if clusters is None:
        clusters = fsutil.local_frame(
            spark, [], "cluster_id string, centroid array<double>, member_count bigint"
        )
        assignments = fsutil.local_frame(
            spark, [], "vec_id bigint, cluster_id string, cosine double")
    else:
        assignments = clustering.assign_to_clusters(
            vectors, clusters, assign_threshold).localCheckpoint()
        clusters = clustering.update_centroids(clusters, vectors, assignments)

    pending = vectors.join(assignments.select("vec_id"), "vec_id", "left_anti")
    new_clusters = clustering.new_clusters_from_pairs(
        pending, assign_threshold).localCheckpoint()
    pair_assignments = new_clusters.selectExpr(
        "member_a as vec_id", "cluster_id", "cast(1.0 as double) as cosine"
    ).union(
        new_clusters.selectExpr("member_b as vec_id", "cluster_id", "cast(1.0 as double) as cosine")
    )
    all_clusters = clusters.unionByName(
        new_clusters.select("cluster_id", "centroid", F.col("member_count").cast("bigint"))
    )
    all_assignments = assignments.unionByName(pair_assignments)

    merged, mapping = clustering.merge_clusters_fixpoint(
        all_clusters, merge_threshold, return_mapping=True
    )
    # re-point members of absorbed clusters at their survivor — without
    # this, assignments recorded under an absorbed id reference a
    # cluster that no longer exists (and any later recount undercounts
    # the survivor). mapping is cluster-sized (and materialized by the
    # fixpoint) -> broadcast join.
    all_assignments = (
        all_assignments.join(
            F.broadcast(mapping.withColumnRenamed("old_cluster_id", "cluster_id")),
            "cluster_id", "left",
        )
        .select(
            "vec_id",
            F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id"),
            "cosine",
        )
    )
    # drop degenerate (<2 member) clusters; the full recount against the
    # complete membership table (recount_members) is a separate
    # maintenance job in the reference too (cluster count fixer) —
    # this batch only sees its own assignments.
    final = merged.where(F.col("member_count") >= 2)
    still_pending = vectors.join(all_assignments.select("vec_id"), "vec_id", "left_anti")
    # merge_mapping is part of the contract: an incremental caller holds
    # membership rows from PRIOR runs, and if this run's fixpoint
    # absorbed one of those clusters the caller must re-point them too
    # (jobs/run_clustering.py) — otherwise a later recount undercounts
    # the survivor and can wrongly drop it.
    return {
        "clusters": final,
        "assignments": all_assignments,
        "pending": still_pending,
        "merge_mapping": mapping,
    }


def reconcile_memberships(
    fresh: DataFrame, prior: DataFrame, merge_mapping: DataFrame
) -> DataFrame:
    """Build the COMPLETE membership table an incremental run must feed
    into maintenance: prior rows are (1) re-pointed through this run's
    merge mapping (their cluster may have been absorbed — without the
    re-point, recount undercounts the survivor and can wrongly drop it
    and unassign its members) and (2) anti-joined against the fresh
    batch so a re-assigned vector deterministically keeps its NEW
    cluster (a dropDuplicates over the union would keep an arbitrary
    row). merge_mapping is cluster-count-sized -> broadcast."""
    mapping = merge_mapping.withColumnRenamed("old_cluster_id", "cluster_id")
    prior = prior.select("vec_id", "cluster_id").join(
        F.broadcast(mapping), "cluster_id", "left"
    ).select(
        "vec_id", F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id")
    )
    fresh = fresh.select("vec_id", "cluster_id")
    return fresh.unionByName(
        prior.join(fresh.select("vec_id"), "vec_id", "left_anti")
    )


def run_maintenance(
    clusters: DataFrame, memberships: DataFrame, vectors: DataFrame
) -> dict[str, DataFrame]:
    """The reference's scheduled maintenance pass, as one dataflow:

      1. count fixer keep side — true recount, drop <2-member clusters
         (sql/recalculate_all_cluster_member_counts.sql:14-85);
      2. count fixer unassign side — members of dropped clusters, to
         have cluster_id nulled (db_access.py:408-523) — apply with
         merge.update_columns / MERGE ... SET cluster_id = NULL;
      3. zero-centroid repair over the survivors
         (db_access.py:319-406).

    Returns {"clusters": repaired survivors, "unassign": (member_id,
    old_cluster_id)}."""
    kept = clustering.recount_members(clusters, memberships)
    unassign = clustering.unassigned_members(memberships)
    repaired = clustering.repair_zero_centroids(kept, memberships, vectors)
    return {"clusters": repaired, "unassign": unassign}


def _state_log(state_dir: str) -> fsutil.VersionLog:
    return fsutil.VersionLog(state_dir, "committed-v")


def read_state(spark: SparkSession, state_dir: str
               ) -> tuple[int, DataFrame | None, DataFrame | None]:
    """(live version, its clusters, its memberships) under
    ``state_dir``; (-1, None, None) before the first commit."""
    ver = _state_log(state_dir).latest(spark)
    if ver is None:
        return -1, None, None
    return (ver, spark.read.parquet(f"{state_dir}/v{ver}/clusters"),
            spark.read.parquet(f"{state_dir}/v{ver}/memberships"))


def commit_state(spark: SparkSession, state_dir: str, version: int,
                 clusters: DataFrame, memberships: DataFrame) -> dict:
    """Write ``<state_dir>/v<version>/{clusters,memberships}`` in
    full, then publish the marker ``committed-v<version>``
    (``fsutil.VersionLog``), so a kill anywhere leaves the live version
    whole and both tables consistent. The frames may lazily read the
    live version's files, which stay untouched. Each write counts its
    rows (Observation). A version already committed (a concurrent
    writer won it) raises: the dirs just written are not the committed
    state.

    Returns {"state_version": version, "clusters": n, "memberships": n}."""
    out = {"state_version": version}
    for name, df in (("clusters", clusters), ("memberships", memberships)):
        obs = Observation(f"cluster_state_{name}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(f"{state_dir}/v{version}/{name}")
        out[name] = obs.get["rows"]
    if not _state_log(state_dir).publish(spark, version, str(version)):
        raise RuntimeError(
            f"cluster-state version {version} was already committed in "
            f"{state_dir}; re-run to retry against the committed state")
    return out
