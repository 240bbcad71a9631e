"""spark-submit entry point for the MERGE/upsert job (S12-S14, B3).

Applies a batch of document updates/inserts to a hash-bucketed parquet
table with copy-on-write semantics — only the buckets containing
touched keys are rewritten (operators/merge.py; the Iceberg-fallback
rationale is documented there and in README).

    cd /root/repo && zip -qr /tmp/t4l.zip tackle4losscontentextraction_spark

    spark-submit --master local[32] \
        --py-files /tmp/t4l.zip \
        jobs/run_merge.py \
        --table /tmp/t4l_docs --source /path/to/updates.parquet \
        --key doc_id --buckets 256 [--mode update]

Reference semantics: db_access.py:291-317 (upsert on_conflict=id),
update_article.py:15-41 (partial-column update).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs (python jobs/run_merge.py) resolve the package from the
# repo root; under spark-submit --py-files the zip provides it
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="bucketed parquet table dir")
    ap.add_argument("--source", required=True, help="parquet of rows to merge")
    ap.add_argument("--key", default="doc_id")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--mode", choices=["upsert", "update"], default="upsert")
    args = ap.parse_args()

    from tackle4losscontentextraction_spark.session import job_session

    spark = job_session("t4l-merge")
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.operators import merge

    source = spark.read.parquet(args.source)
    result = merge.merge_write(
        spark, args.table, source,
        key=args.key, n_buckets=args.buckets, mode=args.mode,
    )
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
