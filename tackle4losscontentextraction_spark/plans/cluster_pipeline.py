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
  6. maintenance    : recount, drop 0/1-member clusters and unassign
                      their members, zero-centroid repair

:func:`run_clustering` is the stage, for a run from scratch and for a
run over committed state alike. Like the reference, it clusters only
the vectors with no membership row (S4: ``cluster_id IS NULL``,
db_access.py:71-115); its callers hand it every vector. Spark runs
only the passes over unbounded sets: the anti-join of the vectors
against the memberships; scoring the unclustered vectors against the
broadcast centroids (2); one aggregate of the assigned vectors' sums
per (cluster, position) and the membership rows per cluster; the
members' vector sums of the clusters whose centroid is broken (a
branch that adaptive execution drops when no centroid is broken); and
re-pointing and filtering the memberships through the kernel's
redirect rows. Every branch that reads an unbounded table ends in a
shuffle, so the kernel's one task reads only bounded rows. Everything
over the bounded working set (the cluster table, the pending set capped
at MAX_PENDING_PAIRING, the per-cluster counts and sums) is steps 3-6 in
ONE ``cluster_kernel.stage_batches`` call, in one mapInArrow task,
materialized once — the only Spark entry to the cluster kernels; both
state tables are written from it. The kernel's memory is the set
itself (clusters and pending vectors x dim, the counts) plus
O(BLOCK_ROWS x set size) for the similarity blocks; it never holds the
memberships or the vectors to cluster. The perfbench upsert_cluster
job (corpus seed 21) runs 3 Spark jobs in the stage from scratch and
14 over its committed state.

The reference's greedy per-article order-dependence (SURVEY §3.3) is
deliberately replaced by frozen-centroid passes — documented batch
variant; outputs are deterministic and order-free.

:func:`reconcile_memberships` and :func:`run_maintenance` state the
membership reconciliation and the maintenance pass as Catalyst
operators; the tests hold the kernel to them.

Clustering state between runs: :func:`read_state`, :func:`commit_state`."""

from __future__ import annotations

import functools
import json
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil, session
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
    memberships: DataFrame | None = None,
    assign_threshold: float = clustering.ASSIGN_THRESHOLD,
    merge_threshold: float = clustering.MERGE_THRESHOLD,
) -> dict:
    """The cluster stage: every vector(vec_id, embedding) [+ the cluster
    table(cluster_id, centroid, member_count) and its memberships(vec_id,
    cluster_id)] -> {clusters, memberships, unassign, unassigned,
    assignments, pending, merge_mapping}.

    Only the vectors with no membership row are clustered (S4): a
    member keeps its row, and its vector, already in its centroid, is
    not scored again. Spark scores those vectors against the broadcast
    centroids and sums the assigned ones per cluster and position
    (:func:`clustering.update_sums`) in the aggregate that also counts
    the membership rows per cluster; and it sums the members' vectors
    of the clusters whose centroid is broken. One
    ``cluster_kernel.stage_batches`` task then does the rest over the
    bounded set, and its output is materialized once. The memberships
    are re-pointed and filtered through that output's redirect rows.

    Maintenance (recount, unassign, zero-centroid repair) needs the
    complete membership table, so it runs when ``memberships`` is given
    or there is no cluster table; with a cluster table and no
    memberships, every vector is scored, ``clusters`` is the merged
    table with its stored counts and nothing is unassigned.

    Returns DataFrames but for ``unassigned``: an Observation of the
    unassign rows' count (``.get["rows"]``), filled by the first action
    on ``memberships``. ``pending`` holds the vectors clustered but not
    assigned."""
    from ..operators import cluster_kernel as ck

    if min(assign_threshold, merge_threshold) < 0:
        raise ValueError("cluster thresholds must be >= 0 (cosine similarity)")
    maintain = clusters is None or memberships is not None
    vectors = vectors.select(F.col("vec_id").cast("bigint"),
                             F.col("embedding").cast("array<double>"))
    unclustered = vectors if memberships is None else vectors.join(
        memberships.select("vec_id"), "vec_id", "left_anti")
    parts = []
    if clusters is None:
        fresh = fsutil.local_frame(
            spark, [], "vec_id bigint, cluster_id string, cosine double")
        pending = unclustered
    else:
        # read by the centroid sums, the pending set, the counts and
        # the memberships: materialized once
        fresh = clustering.assign_to_clusters(
            unclustered, clusters, assign_threshold).localCheckpoint()
        pending = unclustered.join(fresh.select("vec_id"), "vec_id", "left_anti")
        parts.append(_kernel_rows(clusters, "cluster", cluster_id=F.col("cluster_id"),
                                  vec=F.col("centroid"), n=F.col("member_count")))
    capped = pending.orderBy(F.desc("vec_id")).limit(clustering.MAX_PENDING_PAIRING)
    parts.append(_kernel_rows(capped, "pending", vec_id=F.col("vec_id"),
                              vec=F.col("embedding")))
    held = fresh.select("vec_id", "cluster_id")
    # one aggregate: the centroid sums per (cluster, position) and the
    # membership rows (position NULL) per cluster
    counted = []
    if clusters is not None:
        counted.append(clustering.assigned_elements(unclustered, fresh))
    if memberships is not None:
        prior = memberships.select("vec_id", "cluster_id")
        held = held.unionByName(prior)
        counted.append(held.select("cluster_id", F.lit(None).cast("int").alias("pos"),
                                   F.lit(None).cast("double").alias("val")))
        if clusters is not None:
            parts.append(_kernel_rows(
                _broken_member_sums(clusters, prior, vectors), "repair",
                cluster_id=F.col("cluster_id"), pos=F.col("pos"), x=F.col("s"), n=F.col("c")))
    if counted:
        parts.append(_kernel_rows(
            clustering.update_sums(functools.reduce(DataFrame.unionByName, counted)),
            "sum", cluster_id=F.col("cluster_id"), pos=F.col("pos"), x=F.col("s"),
            n=F.col("k")))

    def body(batches):
        return ck.stage_batches(batches, assign_threshold, merge_threshold,
                                clustering.MAX_MERGE_PASSES, maintain)

    state = functools.reduce(DataFrame.unionByName, parts).coalesce(1).mapInArrow(
        body, ck.STAGE_SCHEMA).localCheckpoint()

    redirect = F.broadcast(state.where(F.col("kind") == "redirect").select(
        F.col("cluster_id").alias("_key"), "new_cluster_id",
        F.col("unassigned").alias("_gone")))
    pairs = state.where(F.col("kind") == "member")

    def repoint(df: DataFrame) -> DataFrame:
        return df.join(redirect, df["cluster_id"].eqNullSafe(F.col("_key")), "left").select(
            *[c for c in df.columns if c != "cluster_id"],
            F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id"),
            F.coalesce("_gone", F.lit(False)).alias("unassigned"))

    members = pairs.select("vec_id", "cluster_id", "unassigned")
    assignments = pairs.select("vec_id", "cluster_id", F.lit(1.0).alias("cosine"))
    if clusters is not None:
        assignments = repoint(fresh).select(
            "vec_id", "cluster_id", "cosine").unionByName(assignments)
    if clusters is not None or memberships is not None:
        members = members.unionByName(repoint(held))
    unassigned = Observation("cluster_unassigned")
    return {
        # a recount is never NULL (the Catalyst recount's column is NOT NULL)
        "clusters": state.where(F.col("kind") == "cluster").select(
            "cluster_id", "centroid",
            F.coalesce("member_count", F.lit(0)).alias("member_count") if maintain
            else "member_count", *(["repaired"] if maintain else [])),
        "memberships": members.observe(
            unassigned, F.count(F.when(F.col("unassigned"), 1)).alias("rows"))
        .where(~F.col("unassigned")).select("vec_id", "cluster_id"),
        "unassign": members.where(F.col("unassigned")).select(
            "vec_id", F.col("cluster_id").alias("old_cluster_id")),
        "unassigned": unassigned,
        "assignments": assignments,
        "pending": unclustered.join(assignments.select("vec_id"), "vec_id", "left_anti"),
        "merge_mapping": state.where(
            (F.col("kind") == "redirect") & (F.col("new_cluster_id") != F.col("cluster_id"))
        ).select(F.col("cluster_id").alias("old_cluster_id"), "new_cluster_id"),
    }


def _kernel_rows(df: DataFrame, kind: str, **cols) -> DataFrame:
    """``df`` as kernel input rows of ``kind`` (cluster_kernel.STAGE_INPUT)."""
    from ..operators import cluster_kernel as ck

    return df.select(F.lit(kind).alias("kind"), *[
        cols.get(name, F.lit(None)).cast(dtype).alias(name)
        for name, dtype in ck.STAGE_INPUT[1:]])


def _broken_member_sums(clusters: DataFrame, members: DataFrame,
                        vectors: DataFrame) -> DataFrame:
    """(cluster_id, pos, s, c): per position, the sum and the non-NULL
    count of the member vectors of each cluster whose centroid is
    broken — the aggregate :func:`clustering.repair_zero_centroids`
    averages. The broken set is cluster-table-sized and broadcast; when
    it is empty, adaptive execution drops this branch before any member
    or vector is read."""
    broken = clusters.where(
        F.col("centroid").isNull() | ~F.exists("centroid", lambda x: x != 0.0)
    ).select("cluster_id")
    vecs = members.join(F.broadcast(broken), "cluster_id").join(
        vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("v")),
        "vec_id")
    return (vecs.select("cluster_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(F.sum("val").alias("s"), F.count("val").alias("c")))


def reconcile_memberships(
    fresh: DataFrame, prior: DataFrame, merge_mapping: DataFrame
) -> DataFrame:
    """The COMPLETE membership table an incremental run feeds into
    maintenance, as Catalyst operators (:func:`run_clustering` does it
    through its kernel's redirect rows): prior rows are (1) re-pointed through this run's
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
    """The reference's scheduled maintenance pass, as one Catalyst
    dataflow (:func:`run_clustering` runs it inside its kernel):

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
    ``state_dir``; (-1, None, None) before the first commit. The tables
    are read with the schemas their marker records, so no Spark job
    runs; a marker that holds only the version number is read by
    schema inference."""
    log = _state_log(state_dir)
    ver = log.latest(spark)
    if ver is None:
        return -1, None, None
    text = log.read(spark, ver).strip()
    schemas = {} if text.isdigit() else json.loads(text)["schemas"]

    def table(name: str) -> DataFrame:
        reader = spark.read
        if name in schemas:
            reader = reader.schema(T.StructType.fromJson(schemas[name]))
        return reader.parquet(f"{state_dir}/v{ver}/{name}")

    return ver, table("clusters"), table("memberships")


def commit_state(spark: SparkSession, state_dir: str, version: int,
                 clusters: DataFrame, memberships: DataFrame,
                 before_publish: Callable[[], object] | None = None) -> dict:
    """Write ``<state_dir>/v<version>/{clusters,memberships}`` in
    full, both at once (``session.concurrently``), then publish the
    marker ``committed-v<version>`` (``fsutil.VersionLog``), so a kill
    anywhere leaves the live version whole and both tables consistent.
    ``before_publish``, if given, runs between the writes and the
    publish; if it raises, nothing is published. The marker is JSON
    holding the version and both tables' schemas, which
    :func:`read_state` reads them with. The frames may lazily read the
    live version's files, which stay untouched. Each write counts its
    rows (Observation). A version already committed (a concurrent
    writer won it) raises: the dirs just written are not the committed
    state.

    Returns {"state_version": version, "clusters": n, "memberships": n}."""
    def write(name: str, df: DataFrame) -> int:
        obs = Observation(f"cluster_state_{name}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(f"{state_dir}/v{version}/{name}")
        return obs.get["rows"]

    with session.concurrently(spark, lambda: write("memberships", memberships)) as wait:
        out = {"state_version": version, "clusters": write("clusters", clusters)}
        (out["memberships"],) = wait()
    if before_publish is not None:
        before_publish()
    marker = json.dumps({"version": version, "schemas": {
        "clusters": clusters.schema.jsonValue(),
        "memberships": memberships.schema.jsonValue()}})
    if not _state_log(state_dir).publish(spark, version, marker):
        raise RuntimeError(
            f"cluster-state version {version} was already committed in "
            f"{state_dir}; re-run to retry against the committed state")
    return out
