"""spark-submit entry point for the clustering pipeline — the batch
rendition of the reference's ``scripts/cluster_pipeline.py`` (SURVEY
§3.3): age sweep, assign, centroid update, pending pairing, merge
fixpoint, and the maintenance pass (recount + unassign + zero-centroid
repair).

Usage:

    spark-submit --master local[32] --py-files /tmp/t4l.zip \
        jobs/run_clustering.py \
        --vectors /root/testdata/sf0.01/embeddings.parquet \
        --out /tmp/t4l_clusters [--clusters <prior clusters parquet>] \
        [--assign-threshold 0.82] [--merge-threshold 0.9]

Writes ``<out>/clusters``, ``<out>/assignments``, ``<out>/pending``,
``<out>/unassign`` and prints a one-line JSON summary. Rerunning with
``--clusters <out>/clusters --memberships <accumulated assignments>``
continues from the previous state — the reference's nightly
incremental mode. As in the reference (S4, ``cluster_id IS NULL``),
such a run clusters only the ``--vectors`` rows with no membership
row: a member keeps its cluster and is not scored again, and
``pending`` holds only unclustered vectors that got no assignment.
(The maintenance pass needs the complete membership table; incremental
runs without ``--memberships`` skip it and score every vector.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", required=True, help="embeddings parquet (vec_id, embedding)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--clusters", default=None, help="prior clusters parquet (incremental mode)")
    ap.add_argument("--memberships", default=None,
                    help="prior assignments parquet (vec_id, cluster_id); "
                         "only vectors without a row here are clustered. "
                         "REQUIRED with --clusters for the maintenance pass — "
                         "recount/unassign need the COMPLETE membership table, "
                         "not just this batch's assignments")
    ap.add_argument("--assign-threshold", type=float, default=None)
    ap.add_argument("--merge-threshold", type=float, default=None)
    args = ap.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.session import job_session

    spark = job_session("t4l-clustering")
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.plans import cluster_pipeline

    vectors = spark.read.parquet(args.vectors).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    prior = spark.read.parquet(args.clusters) if args.clusters else None
    members = spark.read.parquet(args.memberships) if args.memberships else None
    kw = {}
    if args.assign_threshold is not None:
        kw["assign_threshold"] = args.assign_threshold
    if args.merge_threshold is not None:
        kw["merge_threshold"] = args.merge_threshold
    # maintenance (recount + unassign + zero-centroid repair) is only
    # valid against the COMPLETE membership table: on an incremental
    # run this batch's assignments alone would make every idle prior
    # cluster recount to 0 (and be wrongly dropped/unassigned). The
    # stage skips it when incremental without --memberships.
    out = cluster_pipeline.run_clustering(spark, vectors, prior, members, **kw)

    # each output is written once and counted on its write
    counts = {}
    for name in ("clusters", "assignments", "pending", "unassign"):
        obs = Observation(name)
        out[name].observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(os.path.join(args.out, name))
        counts[name] = obs.get["rows"]
    print(json.dumps({"counts": counts, "out": args.out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
