"""MERGE / upsert operators (SURVEY §2 S12-S14, B3).

Reference semantics:

- batch upsert         — ``db_access.py:291-317``
  (``sb.table(...).upsert(rows, on_conflict="id")``): INSERT the batch;
  rows whose key already exists REPLACE the stored row.
- partial row update   — ``update_article.py:15-41``
  (``.update(update_data).eq("id", id)``): only the given columns
  change; every other column of the matched row is preserved.

Storage format note (the input_hint says Iceberg): this sandbox has no
network and ships no Iceberg runtime jar (verified: no ``iceberg``/
``delta`` artifact under ``$SPARK_HOME/jars``, no ivy/maven cache, and
``spark.jars.packages`` cannot resolve offline), so the MERGE INTO
*statement* is unavailable. :func:`merge_write` therefore implements
exactly what Iceberg's copy-on-write MERGE does mechanically —
partition-pruned read-modify-replace with write-audit-publish ordering
— over hash-bucketed parquet, and the dataflow halves
(:func:`upsert`, :func:`update_columns`) are format-agnostic: pointed
at an Iceberg catalog they become the ON MATCHED / NOT MATCHED clauses
of ``MERGE INTO`` unchanged.

Scale design (the part that must survive 100 TB):

- The merge dataflow is ONE join keyed on the merge key. The source
  (a day's updates) is typically << target; Spark broadcasts it and the
  target never shuffles. A giant source degrades to a sort-merge join
  AQE can skew-split — still a single wide op.
- The storage merge never rewrites the whole table: touched buckets are
  discovered from the source keys (an observed set of buckets —
  O(n_buckets), bounded), only those buckets are read and merged, and
  the result commits through a SINGLE atomic manifest publish (the
  snapshot layer below) — Iceberg's snapshot swap, rebuilt on
  ``fsutil.VersionLog``.
  At thousands of buckets this is the same I/O profile as Iceberg COW:
  rewrite bytes proportional to touched partitions, not table size,
  and a kill at ANY point leaves the previous snapshot fully readable.
- The rewrite runs ``min(touched buckets, defaultParallelism)`` write
  tasks, one file per bucket (``lineage.cluster_by_bucket``). When the
  touched buckets outnumber the slots, each task writes several
  buckets in sequence; a task per bucket would add a task set-up
  (~30 ms of deserialization CPU for a parquet write task) per bucket
  and run no faster on the same slots.
- Reads carry the manifest's stored schema, so no read of the table
  starts a schema-inference job.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil
from ..sources import lineage


def upsert(target: DataFrame, source: DataFrame, key: str = "doc_id") -> DataFrame:
    """INSERT ... ON CONFLICT(key) DO UPDATE (full-row replace).

    Matching target rows are replaced by the source row; unmatched
    source rows are appended (db_access.py:291-317 semantics). One
    anti-join. No explicit broadcast hint: a typical merge batch sits
    under autoBroadcastJoinThreshold (64 MB here) and broadcasts on its
    own, while a giant source legitimately degrades to a sort-merge
    join AQE can skew-split — a forced hint would OOM on that case.
    """
    keep = target.join(source.select(key), key, "left_anti")
    return keep.unionByName(source.select(*target.columns))


def update_columns(
    target: DataFrame, updates: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """Partial-column UPDATE ... WHERE key matches (update_article.py:15-41).

    ``updates`` carries the key plus only the columns to change; every
    other column of a matched row is preserved, unmatched update rows
    are ignored (the reference's ``.eq("id", ...)`` matches nothing and
    no row is written).

    Match detection rides an explicit ``__upd_matched`` marker column
    rather than NULL-ness of the update values, so SET col = NULL is
    representable — the unassign path (clustering.unassigned_members,
    ref db_access.py:408-523) writes cluster_id = NULL through here.
    No broadcast hint (see :func:`upsert`): small update batches
    broadcast automatically, giant ones sort-merge under AQE.
    """
    upd_cols = [c for c in updates.columns if c != key]
    renamed = updates.select(
        key,
        F.lit(True).alias("__upd_matched"),
        *[F.col(c).alias(f"__upd_{c}") for c in upd_cols],
    )
    joined = target.join(renamed, key, "left")
    out_cols = []
    for c in target.columns:
        if c == key:
            out_cols.append(F.col(c))
        elif c in upd_cols:
            # unmatched rows have NULL __upd_matched -> keep original;
            # matched rows take the update value EVEN WHEN IT IS NULL
            out_cols.append(
                F.when(F.col("__upd_matched"), F.col(f"__upd_{c}"))
                .otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


# ---------------------------------------------------------------------------
# snapshot-atomic storage layer
# ---------------------------------------------------------------------------
#
# Layout (the from-scratch rendition of Iceberg's snapshot mechanism):
#
#   table_dir/data/snap-<N>-<token>/bucket=<i>/part-*.parquet
#       data files written BY snapshot N (touched buckets only — COW).
#       <token> is a WRITER-UNIQUE suffix (uuid4), so two racing
#       writers can never stage into — or clean up — each other's
#       directories (Iceberg stages data files the same way); the
#       manifest records the directory NAME per bucket, not a derived
#       path.
#   table_dir/metadata/snap-<N>.json
#       manifest: for every live bucket, WHICH data dir serves it,
#       plus parent pointer and audit counts
#
# Commit protocol (write-audit-publish):
#   1. write the merged touched-bucket data under the writer-unique
#      data/snap-<N>-<token>/ — invisible to readers (no manifest
#      references it yet) and unreachable by concurrent writers;
#   2. audit (row counts via the Observation API — no re-read);
#   3. publish metadata/snap-<N>.json (fsutil.VersionLog), so the
#      table flips from snapshot N-1 to N across ALL buckets at once.
#      Orphan staging dirs of a killed writer are ignored by readers
#      and reclaimed by :func:`remove_orphans`; a writer that lost the
#      race for N raises an OCC conflict after cleaning ONLY its own
#      token-suffixed staging — the winner's snapshot is never touched.
#
# Readers (:func:`read_table`) take the largest published snapshot;
# ``snapshot=`` reads any retained older manifest (time travel).
# :func:`expire_snapshots` drops history.


def _new_staging(table_dir: str, new_id: int) -> tuple[str, str]:
    """Writer-unique staging (dirname, data_dir) for snapshot ``new_id``.

    The staging dirname ``snap-<id>-<token>`` is load-bearing:
    _serving_dirname and remove_orphans match on it — this is the
    single site that defines it."""
    import uuid

    dirname = f"snap-{new_id}-{uuid.uuid4().hex[:12]}"
    return dirname, f"{table_dir}/data/{dirname}"


def _manifests(table_dir: str) -> fsutil.VersionLog:
    return fsutil.VersionLog(f"{table_dir}/metadata", "snap-", ".json")


def _publish_manifest(spark: SparkSession, table_dir: str, new_id: int,
                      data_dir: str, manifest: dict) -> None:
    """Commit step shared by merge_write and compact. On an
    optimistic-concurrency loss, clean ONLY our own staging (never the
    winner's referenced data) and raise."""
    if not _manifests(table_dir).publish(spark, new_id, json.dumps(manifest, indent=1)):
        fsutil.delete_dir(spark, data_dir)
        raise RuntimeError(
            f"snapshot {new_id} was published concurrently in {table_dir}; retry"
        )


def _serving_dirname(v) -> str:
    """Manifest bucket value -> data dir name.  Current manifests store
    the writer-unique dir name (str); pre-round-5 manifests stored the
    serving snapshot id (int) whose dir was data/snap-<id>."""
    return v if isinstance(v, str) else f"snap-{v}"


def snapshots(spark: SparkSession, table_dir: str) -> list[int]:
    """Published snapshot ids, ascending ([] for a missing table)."""
    return _manifests(table_dir).versions(spark)


def current_snapshot_id(spark: SparkSession, table_dir: str) -> int | None:
    return _manifests(table_dir).latest(spark)


def _read_manifest(spark: SparkSession, table_dir: str, snap_id: int) -> dict:
    log = _manifests(table_dir)
    if not fsutil.exists(spark, log.path(snap_id)):
        raise FileNotFoundError(
            f"snapshot {snap_id} is not published (or expired) in {table_dir}"
        )
    return json.loads(log.read(spark, snap_id))


def read_table(
    spark: SparkSession, table_dir: str, snapshot: int | None = None
) -> DataFrame:
    """Read the table at the current (or a time-travel) snapshot.

    Buckets are grouped by the snapshot whose data dir serves them and
    the groups union (:func:`_read_buckets`).  Group count = distinct
    serving snapshots <= retained history depth, so the plan stays
    small; :func:`expire_snapshots` (or any full rewrite) collapses it
    back to one.
    """
    snap_id = snapshot if snapshot is not None else current_snapshot_id(spark, table_dir)
    if snap_id is None:
        raise FileNotFoundError(f"no published snapshot in {table_dir}")
    man = _read_manifest(spark, table_dir, snap_id)
    return _read_buckets(spark, table_dir, man, [int(b) for b in man["buckets"]])


def _read_buckets(spark: SparkSession, table_dir: str, man: dict,
                  buckets: list[int]) -> DataFrame:
    """``buckets`` of manifest ``man`` as one DataFrame: one read per
    serving data dir, each with its own basePath (keeps the ``bucket``
    partition column + partition pruning), unioned.

    The read carries the manifest's ``schema_json`` (the schema of the
    frame its snapshot wrote), so building it starts no
    schema-inference job; the file source makes every field nullable,
    exactly as inference does. Manifests written before delete mode
    added that field are read with inference. No buckets (every row
    deleted) serves the schema-preserving empty table."""
    schema = None
    if "schema_json" in man:
        schema = T.StructType.fromJson(
            json.loads(man["schema_json"])).add("bucket", T.IntegerType())
    if not buckets:
        return fsutil.local_frame(spark, [], schema)
    by_serving: dict[str, list[int]] = {}
    for b in sorted(buckets):
        by_serving.setdefault(_serving_dirname(man["buckets"][str(b)]), []).append(b)
    out = None
    for serving, bs in sorted(by_serving.items()):
        base = f"{table_dir}/data/{serving}"
        reader = spark.read.option("basePath", base)
        if schema is not None:
            reader = reader.schema(schema)
        part = reader.parquet(*[f"{base}/bucket={b}" for b in bs])
        out = part if out is None else out.unionByName(part)
    return out


def merge_write(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str = "doc_id",
    n_buckets: int = 16,
    mode: str = "upsert",
) -> dict:
    """Snapshot-atomic copy-on-write MERGE into a hash-bucketed parquet
    table (bucket = pmod(xxhash64(key), n_buckets)); see the layout /
    commit-protocol comment above.

    Steps:
      1. bucket the source and materialize it once (persist); the
         touched bucket ids (bounded by n_buckets — the only
         driver-side state) come from an Observation on that same
         materializing action, and every later step reads the persisted
         copy, so an expensive source (a Python embedding, say) runs
         once per MERGE, not once per reader;
      2. read ONLY those buckets of the current snapshot;
      3. dataflow-merge — ``mode``: "upsert" (:func:`upsert`),
         "update" (:func:`update_columns`), "delete" (WHEN MATCHED THEN
         DELETE: anti-join on the source keys; a bucket left with zero
         rows is dropped from the manifest, so full deletion keeps the
         table readable via the manifest's stored schema);
      4. write the merged buckets under data/snap-<N>-<token>/, then
         publish manifest N (:func:`_publish_manifest`) — one metadata
         op commits every touched bucket simultaneously.

    Returns {"snapshot": N, "touched_buckets": [...], "rows_written": n}.
    """

    bucket_of = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    src_obs = Observation("merge_write_source")
    # persist, not localCheckpoint: the streaming sink calls this per
    # micro-batch, and persisted blocks lost with an executor are
    # recomputed from lineage instead of failing the query
    src = source.withColumn("bucket", bucket_of).observe(
        src_obs, F.collect_set("bucket").alias("buckets")).persist()
    try:
        # the noop sink builds the cache in one job, no shuffle (count
        # would add an aggregation exchange and two more jobs)
        src.write.format("noop").mode("overwrite").save()
        touched = sorted(src_obs.get["buckets"])
        return _merge_buckets(spark, table_dir, src, touched, bucket_of,
                              key, n_buckets, mode)
    finally:
        src.unpersist()


def _merge_buckets(spark: SparkSession, table_dir: str, src: DataFrame,
                   touched: list[int], bucket_of, key: str, n_buckets: int,
                   mode: str) -> dict:
    """merge_write steps 2-4 over the materialized, bucketed source."""
    cur_id = current_snapshot_id(spark, table_dir)
    if not touched:
        return {"snapshot": cur_id, "touched_buckets": [], "rows_written": 0}

    cur_man = _read_manifest(spark, table_dir, cur_id) if cur_id is not None else None
    new_id = (cur_id + 1) if cur_id is not None else 0
    # writer-unique staging: racing writers (and leftover dirs from
    # crashed ones) can never collide, so nothing is pre-deleted here —
    # unpublished orphans are reclaimed by remove_orphans()
    dirname, data_dir = _new_staging(table_dir, new_id)

    existing = (
        [b for b in touched if str(b) in cur_man["buckets"]] if cur_man else []
    )
    if existing:
        tgt = _read_buckets(spark, table_dir, cur_man, existing)
        if mode == "upsert":
            merged = upsert(tgt, src.select(*tgt.columns), key)
        elif mode == "update":
            merged = update_columns(tgt, src.drop("bucket"), key).withColumn(
                "bucket", bucket_of
            )
        elif mode == "delete":
            # MERGE ... WHEN MATCHED THEN DELETE: rewrite the touched
            # buckets without the source keys (copy-on-write, same
            # bucket pruning as the other modes)
            merged = tgt.join(src.select(F.col(key)).distinct(), key, "left_anti")
        else:
            raise ValueError(f"unknown merge mode: {mode}")
    else:
        if mode in ("update", "delete"):
            return {"snapshot": cur_id, "touched_buckets": [], "rows_written": 0}
        merged = src

    merged = merged.withColumn("bucket", bucket_of)
    obs = Observation(f"merge_write_snap{new_id}")
    # delete mode also needs per-bucket survivor counts: a bucket whose
    # rows all died writes no directory and must leave the manifest
    # (readers resolve only manifest-listed buckets)
    per_bucket = (
        [F.expr(f"count_if(bucket = {b}) AS b{b}") for b in touched]
        if mode == "delete" else []
    )
    # cluster the write by bucket (Iceberg write.distribution-mode=hash):
    # one file per touched bucket instead of tasks x buckets shards —
    # see lineage.run_with_resume for the measured small-file tax — in
    # at most one task per slot (lineage.cluster_by_bucket).
    # The observe sits ABOVE the repartition: below it, AQE's empty-
    # relation propagation can replace the post-shuffle subtree —
    # CollectMetrics included — when a delete empties the table, and
    # obs.get then has no row (measured: delete-everything failed).
    merged = lineage.cluster_by_bucket(merged, touched).observe(
        obs, F.count(F.lit(1)).alias("rows"), *per_bucket
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(data_dir)
    metrics = obs.get
    rows_written = metrics["rows"]

    buckets = dict(cur_man["buckets"]) if cur_man else {}
    for b in touched:
        if mode == "delete" and not metrics[f"b{b}"]:
            buckets.pop(str(b), None)
        else:
            buckets[str(b)] = dirname
    manifest = {
        "snapshot_id": new_id,
        "parent": cur_id,
        "n_buckets": n_buckets,
        "key": key,
        "buckets": buckets,
        "touched_buckets": touched,
        "rows_written": rows_written,
        # lets read_table serve a fully-emptied table (no bucket dirs
        # left to infer from)
        "schema_json": merged.drop("bucket").schema.json(),
    }
    _publish_manifest(spark, table_dir, new_id, data_dir, manifest)
    return {"snapshot": new_id, "touched_buckets": touched, "rows_written": rows_written}


def compact(spark: SparkSession, table_dir: str) -> dict:
    """Full-table compaction (Iceberg rewrite_data_files): rewrite every
    live bucket into ONE new snapshot.  Collapses the read plan back to
    a single basePath group (a long-running streaming MERGE sink
    otherwise accretes one serving snapshot per micro-batch cohort) and
    merges small files.  Commits through the same atomic manifest
    publish as merge_write; a kill mid-compaction leaves the previous
    snapshot current."""

    cur_id = current_snapshot_id(spark, table_dir)
    if cur_id is None:
        return {"snapshot": None, "rows_written": 0}
    cur_man = _read_manifest(spark, table_dir, cur_id)
    if not cur_man["buckets"]:
        # fully-deleted table: nothing to rewrite, and a rewrite would
        # publish a manifest read_table can only serve via schema_json
        return {"snapshot": cur_id, "rows_written": 0}
    new_id = cur_id + 1
    dirname, data_dir = _new_staging(table_dir, new_id)

    tbl = read_table(spark, table_dir, snapshot=cur_id)
    obs = Observation(f"compact_snap{new_id}")
    tbl = tbl.observe(obs, F.count(F.lit(1)).alias("rows"))
    tbl.write.mode("overwrite").partitionBy("bucket").parquet(data_dir)
    rows_written = obs.get["rows"]

    manifest = {
        "snapshot_id": new_id,
        "parent": cur_id,
        "n_buckets": cur_man.get("n_buckets"),
        "key": cur_man.get("key"),
        "buckets": {b: dirname for b in cur_man["buckets"]},
        "touched_buckets": sorted(int(b) for b in cur_man["buckets"]),
        "rows_written": rows_written,
        "compaction": True,
        # carried forward so a later full-delete snapshot stays readable
        "schema_json": cur_man.get(
            "schema_json", tbl.drop("bucket").schema.json()
        ),
    }
    _publish_manifest(spark, table_dir, new_id, data_dir, manifest)
    return {"snapshot": new_id, "rows_written": rows_written}


def expire_snapshots(
    spark: SparkSession, table_dir: str, keep_last: int = 2
) -> dict:
    """Drop manifests older than the newest ``keep_last`` and any data
    dir no kept manifest references (Iceberg expire_snapshots).  Data
    dirs referenced by a kept manifest survive even when their own
    manifest expires — time travel shrinks, current reads don't."""
    if keep_last < 1:
        # keep_last=0 would expire EVERY manifest and data dir — a
        # permanently unreadable table; refuse (Iceberg likewise floors
        # retain-last at 1)
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    ids = snapshots(spark, table_dir)
    keep = ids[-keep_last:]
    live_data: set[str] = set()
    dropped_refs: set[str] = set()
    for sid in ids:
        man = _read_manifest(spark, table_dir, sid)
        refs = {_serving_dirname(v) for v in man["buckets"].values()}
        (live_data if sid in keep else dropped_refs).update(refs)
    dropped = []
    for sid in ids:
        if sid in keep:
            continue
        fsutil.delete_dir(spark, _manifests(table_dir).path(sid))
        dropped.append(sid)
    for name in sorted(dropped_refs - live_data):
        fsutil.delete_dir(spark, f"{table_dir}/data/{name}")
    return {"dropped": dropped, "kept": keep}


def remove_orphans(
    spark: SparkSession, table_dir: str, min_age_sec: float = 3600.0
) -> dict:
    """Delete data dirs no retained manifest references (crashed or
    OCC-losing writers' staging) — Iceberg's remove_orphan_files.  The
    age floor keeps an IN-FLIGHT writer's staging safe: a dir younger
    than ``min_age_sec`` may belong to a merge that has not published
    yet, so it is skipped (pass 0 only in tests / known-quiesced
    tables)."""
    import time

    referenced: set[str] = set()
    for sid in snapshots(spark, table_dir):
        man = _read_manifest(spark, table_dir, sid)
        referenced.update(_serving_dirname(v) for v in man["buckets"].values())
    fs, data_path = fsutil._fs_and_path(spark, f"{table_dir}/data")
    removed = []
    if fs.exists(data_path):
        now_ms = time.time() * 1000.0
        for st in fs.listStatus(data_path):
            name = st.getPath().getName()
            if name in referenced:
                continue
            if now_ms - st.getModificationTime() < min_age_sec * 1000.0:
                continue
            fsutil.delete_dir(spark, f"{table_dir}/data/{name}")
            removed.append(name)
    return {"removed": sorted(removed)}
