"""Per-partition lineage / checkpoint-resume (north rule: a killed job
resumes without reprocessing completed partitions).

Reference analog: per-article commit + ``isProcessed`` flag + anti-join
scan of unprocessed rows (fetch_unprocessed_articles.py:59,
article_processor.py:109-141, SURVEY §2.10 R6 / §2.4 J6).

Spark design: work is split into deterministic *buckets*
(``pmod(xxhash64(doc_id), n_buckets)``). All pending buckets are
processed and written in ONE ``partitionBy("bucket")`` job (dynamic
partition overwrite); lineage records (bucket id, row count, status)
are appended ONLY AFTER that job commits, with counts taken from an
Observation on the write itself (write-audit-publish ordering — the
lineage write is the publish). Restart = anti-join of the bucket list
against the lineage table, so completed buckets are never recomputed
and half-written buckets (no lineage rows) are overwritten
idempotently by the next run's single job.

At 100 TB the bucket count is sized so each bucket is a few GB
(thousands of buckets); the anti-join is against a tiny lineage table
(broadcast), and bucket assignment is a pure projection — no extra
shuffle beyond the partitioned write itself. The write runs one task
per slot, not one per bucket (:func:`cluster_by_bucket`): with
thousands of buckets and hundreds of slots each task writes its dozen
or so buckets one after another, each still as one file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def completed_buckets(spark: SparkSession, lineage_dir: str) -> DataFrame:
    schema = "bucket int, n_rows bigint, status string"
    if not any(
        f.endswith(".parquet") for f in fsutil.list_names(spark, lineage_dir)
    ):
        return fsutil.local_frame(spark, [], schema)
    return (
        spark.read.schema(schema).parquet(lineage_dir)
        .where(F.col("status") == "done")
        .select("bucket", "n_rows", "status")
        .distinct()
    )


def pending_buckets(
    spark: SparkSession, df: DataFrame, lineage_dir: str, n_buckets: int = 16, key: str = "doc_id"
) -> list[int]:
    done = {r.bucket for r in completed_buckets(spark, lineage_dir).collect()}
    return [b for b in range(n_buckets) if b not in done]


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
    lineage rows for all of them after the data commit.

    ``transform`` must preserve the ``key`` column (the bucket is
    re-derived from it on the output side).

    The whole pending set is written as a single
    ``partitionBy("bucket")`` job with dynamic partition overwrite —
    the previous per-bucket loop of tiny jobs left a large cluster idle
    between scheduling waves and re-read every bucket for its count.
    Per-bucket row counts now come from an ``Observation`` on the SAME
    write job (write metrics, not a second scan). Ordering is still
    write-audit-publish: a job killed mid-write leaves old partition
    data intact (the overwrite commits at job completion) and no
    lineage rows, so the next run redoes exactly those buckets.

    At thousands of buckets (the 100 TB sizing) the observation is one
    conditional-count column per pending bucket — wide but constant-space
    per task; beyond ~10k pending buckets batch the run into waves.

    Returns {"processed": [...], "skipped": [...], "rows": n, "schema":
    s}: ``s`` is the schema of the frame this run wrote, which a reader
    of ``out_dir`` passes to ``spark.read.schema`` to start no
    schema-inference job; it is None when nothing was pending (building
    the transform's plan only for its schema costs more than the
    inference job it saves).
    """
    pending = pending_buckets(spark, df, lineage_dir, n_buckets, key)
    skipped = [b for b in range(n_buckets) if b not in pending]
    fsutil.mkdirs(spark, lineage_dir)
    if not pending:
        return {"processed": [], "skipped": skipped, "rows": 0, "schema": None}

    # a pending bucket's directory, if present, is by definition an
    # uncommitted leftover from a crashed attempt (done buckets are
    # never pending). Clear them up front: dynamic overwrite only
    # replaces partitions PRESENT in the new output, so a transform
    # legitimately yielding 0 rows for a bucket would otherwise leave
    # the garbage in place under a fresh 'done' lineage row. The delete
    # goes through the Hadoop FileSystem API (fsutil), so it works
    # unchanged on HDFS/S3 table locations — or is simply unnecessary
    # with Iceberg, where uncommitted files are not in any snapshot.
    for b in pending:
        fsutil.delete_dir(spark, f"{out_dir}/bucket={b}")

    bucketed = with_bucket(df, key, n_buckets)
    part = transform(bucketed.where(F.col("bucket").isin(pending)))
    part = with_bucket(part, key, n_buckets)

    from pyspark.sql import Observation

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
    fsutil.local_frame(
        spark, [(b, counts[b], "done") for b in pending],
        "bucket int, n_rows bigint, status string",
    ).write.mode("append").parquet(lineage_dir)
    return {"processed": pending, "skipped": skipped, "rows": sum(counts.values()),
            "schema": part.schema}
