"""Per-partition lineage / checkpoint-resume (north rule: a killed job
resumes without reprocessing completed partitions).

Reference analog: per-article commit + ``isProcessed`` flag + anti-join
scan of unprocessed rows (fetch_unprocessed_articles.py:59,
article_processor.py:109-141, SURVEY §2.10 R6 / §2.4 J6).

Spark design: work is split into deterministic *buckets*
(``pmod(xxhash64(doc_id), n_buckets)``). All pending buckets are
processed and written in ONE ``partitionBy("bucket")`` job (dynamic
partition overwrite). Only AFTER that job commits does the run publish
the next lineage manifest, ``lineage/snap-<N>.json``
(``fsutil.VersionLog``, the same commit as a table MERGE's): it lists
every done bucket so far with its row count, taken from an Observation
on the write itself, and the written frame's schema (write-audit-publish
ordering — the manifest is the publish). Restart reads the latest
manifest — driver-side file reads, no Spark job — so completed buckets
are never recomputed, half-written buckets (in no manifest) are
overwritten idempotently by the next run's single job, and a reader of
the output gets its schema without a schema-inference job.

At 100 TB the bucket count is sized so each bucket is a few GB
(thousands of buckets, so a manifest of a few hundred KB), and bucket
assignment is a pure projection — no extra shuffle beyond the
partitioned write itself. The write runs one task per slot, not one per
bucket (:func:`cluster_by_bucket`): with thousands of buckets and
hundreds of slots each task writes its dozen or so buckets one after
another, each still as one file.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil


def with_bucket(df: DataFrame, key: str = "doc_id", n_buckets: int = 16) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def cluster_by_bucket(df: DataFrame, buckets: list[int]) -> DataFrame:
    """Shuffle ``df`` so every bucket of ``buckets`` (non-empty) lands
    whole in one of ``min(len(buckets), defaultParallelism)``
    partitions, dealt out round-robin by the bucket's rank, so a
    ``partitionBy("bucket")`` write makes exactly one file per bucket in
    at most one task per slot.

    Why not a hash partition per bucket: 16 bucket ids hash into only
    10 of 16 partitions, and each empty one still launches a write
    task, which spends ~30 ms of CPU deserializing itself (a noop-sink
    task ~5 ms). The trade: when the buckets
    outnumber the slots, a task writes its buckets one after another
    rather than in separate tasks — the same slot time, without a task
    set-up per bucket."""
    n = min(len(buckets), df.sparkSession.sparkContext.defaultParallelism)
    rank = ", ".join(str(b) for b in sorted(buckets))
    return df.repartitionById(
        n, F.expr(f"CAST(array_position(array({rank}), bucket) AS INT)"))


def manifests(lineage_dir: str) -> fsutil.VersionLog:
    """The lineage manifests ``<lineage_dir>/snap-<N>.json``."""
    return fsutil.VersionLog(lineage_dir, "snap-", ".json")


def run_with_resume(
    spark: SparkSession,
    df: DataFrame,
    transform,
    out_dir: str,
    lineage_dir: str,
    n_buckets: int = 16,
    key: str = "doc_id",
) -> dict:
    """Process only not-yet-done buckets in ONE Spark job; publish the
    next lineage manifest, which adds all of them, after the data
    commit.

    ``transform`` must preserve the ``key`` column (the bucket is
    re-derived from it on the output side).

    The per-bucket row counts are an Observation on the write, one
    conditional-count column per pending bucket: at thousands of
    buckets (the 100 TB sizing) wide but constant-space per task;
    beyond ~10k pending buckets batch the run into waves.

    Returns {"processed": [...], "skipped": [...], "rows": n, "schema":
    s}: ``s`` is the schema of the frame written into ``out_dir`` (by
    this run, or as recorded by the run that wrote the last bucket),
    which a reader passes to ``spark.read.schema`` to start no
    schema-inference job.
    """
    log = manifests(lineage_dir)
    cur = log.latest(spark)
    done = json.loads(log.read(spark, cur)) if cur is not None else {"buckets": {}}
    pending = [b for b in range(n_buckets) if str(b) not in done["buckets"]]
    skipped = [b for b in range(n_buckets) if b not in pending]
    if not pending:
        return {"processed": [], "skipped": skipped, "rows": 0,
                "schema": T.StructType.fromJson(json.loads(done["schema_json"]))}

    # a pending bucket's directory, if present, is by definition an
    # uncommitted leftover from a crashed attempt (done buckets are
    # never pending). Clear them up front: dynamic overwrite only
    # replaces partitions PRESENT in the new output, so a transform
    # legitimately yielding 0 rows for a bucket would otherwise leave
    # the garbage in place under a fresh 'done' entry. The delete
    # goes through the Hadoop FileSystem API (fsutil), so it works
    # unchanged on HDFS/S3 table locations — or is simply unnecessary
    # with Iceberg, where uncommitted files are not in any snapshot.
    for b in pending:
        fsutil.delete_dir(spark, f"{out_dir}/bucket={b}")

    bucketed = with_bucket(df, key, n_buckets)
    part = transform(bucketed.where(F.col("bucket").isin(pending)))
    part = with_bucket(part, key, n_buckets)

    obs = Observation("lineage_counts")
    # The write is CLUSTERED by bucket (Iceberg write.distribution-mode=
    # hash): without the repartition every input task opened a writer
    # for every bucket — input_partitions x n_buckets small files (2048
    # at 100k docs/32 buckets, measured 24.5s for the stage) — and every
    # downstream scan paid the listing + open tax. One exchange of the
    # extracted rows buys one file per bucket, written by at most one
    # task per slot (cluster_by_bucket). The observe rides ABOVE the
    # repartition so AQE's empty-relation propagation cannot drop the
    # CollectMetrics node when a transform yields zero rows (see
    # merge.merge_write). Its columns are SQL text: one py4j call each,
    # where a Column tree built in Python costs ~50.
    part = cluster_by_bucket(part, pending).observe(
        obs, *[F.expr(f"count_if(bucket = {b}) AS b{b}") for b in pending])
    # data commit first (one job, only pending partitions replaced) ...
    (
        part.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    metrics = obs.get
    counts = {b: metrics[f"b{b}"] for b in pending}
    # ... lineage publish second (write-audit-publish)
    new = 0 if cur is None else cur + 1
    manifest = {"buckets": {**done["buckets"], **{str(b): counts[b] for b in pending}},
                "schema_json": part.schema.json()}
    if not log.publish(spark, new, json.dumps(manifest, indent=1)):
        raise RuntimeError(f"lineage version {new} was published concurrently in "
                           f"{lineage_dir}; re-run to retry")
    return {"processed": pending, "skipped": skipped, "rows": sum(counts.values()),
            "schema": part.schema}
