"""spark-submit entry point for snapshot-table maintenance (S11/B3 table
housekeeping: the jobs the reference schedules around its store —
content_update_checker.py's cleanup pass — re-expressed against the
snapshot-atomic parquet table in operators/merge.py).

Actions:
  history   print published snapshot ids + current
  compact   rewrite all live buckets into one new snapshot
            (collapses the read plan's serving-snapshot groups;
            merges small files from streaming MERGE cohorts)
  expire    drop snapshots older than the newest --keep-last
  export    read the table (optionally at --snapshot N for time
            travel) and write a plain parquet copy to --out

    cd /root/repo && zip -qr /tmp/t4l.zip tackle4losscontentextraction_spark

    spark-submit --master local[32] \
        --py-files /tmp/t4l.zip \
        jobs/run_table_maintenance.py \
        --table /tmp/t4l_docs compact

    spark-submit ... jobs/run_table_maintenance.py \
        --table /tmp/t4l_docs expire --keep-last 2

    spark-submit ... jobs/run_table_maintenance.py \
        --table /tmp/t4l_docs export --snapshot 3 --out /tmp/asof3
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs (python jobs/run_table_maintenance.py) resolve the package
# from the repo root; under spark-submit --py-files the zip provides it
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="snapshot table dir")
    sub = ap.add_subparsers(dest="action", required=True)
    sub.add_parser("history")
    sub.add_parser("compact")
    p_exp = sub.add_parser("expire")
    p_exp.add_argument("--keep-last", type=int, default=2)
    p_out = sub.add_parser("export")
    p_out.add_argument("--snapshot", type=int, default=None,
                       help="time-travel snapshot id (default: current)")
    p_out.add_argument("--out", required=True, help="output parquet dir")
    args = ap.parse_args()
    if args.action == "expire" and args.keep_last < 1:
        # keep_last=0 would delete every manifest + data dir — an
        # unrecoverable table; the library also refuses (merge.py)
        ap.error("--keep-last must be >= 1")

    from tackle4losscontentextraction_spark.session import job_session

    spark = job_session("t4l-table-maintenance")
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.operators import merge

    if args.action == "history":
        ids = merge.snapshots(spark, args.table)
        result = {"snapshots": ids, "current": ids[-1] if ids else None}
    elif args.action == "compact":
        result = merge.compact(spark, args.table)
    elif args.action == "expire":
        result = merge.expire_snapshots(spark, args.table,
                                        keep_last=args.keep_last)
    else:  # export
        df = merge.read_table(spark, args.table, snapshot=args.snapshot)
        df.write.mode("overwrite").parquet(args.out)
        result = {
            "snapshot": (args.snapshot if args.snapshot is not None
                         else merge.current_snapshot_id(spark, args.table)),
            "rows": spark.read.parquet(args.out).count(),
            "out": args.out,
        }

    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
