"""spark-submit entry point for corpus deduplication.

One job, five methods over a documents parquet (id + text column) or,
for ``embedding``, a vectors parquet (id + array<float> column):

  exact     normalize+md5 exact duplicate groups
  minhash   banded MinHash-LSH candidates -> exact-Jaccard verify
  simhash   16-bit simhash Hamming<=1 pairs (pigeonhole bands)
  jaccard   exact n-gram Jaccard posting-list pairs (df-guarded)
  embedding sign-LSH candidate pairs -> exact cosine verify

Writes the pair/group table to --out and, with --keep, also writes the
deduplicated corpus (one survivor per connected pair, smallest id wins
— a deterministic rule, resumable).

    cd /root/repo && zip -qr /tmp/t4l.zip tackle4losscontentextraction_spark

    spark-submit --master local[32] \
        --py-files /tmp/t4l.zip \
        jobs/run_dedup.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --method minhash --out /tmp/dup_pairs --keep /tmp/docs_dedup

Reference scope: the reference pipeline has no dedup stage; this is
part of the training-data extension surface (VERDICT round-3
"LLM-data-pipeline operators" table) exposed as a schedulable job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="input parquet")
    ap.add_argument("--method", required=True,
                    choices=["exact", "minhash", "simhash", "jaccard",
                             "embedding"])
    ap.add_argument("--out", required=True, help="pairs/groups parquet dir")
    ap.add_argument("--keep", default=None,
                    help="also write the deduplicated corpus here")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--threshold", type=float, default=None,
                    help="jaccard/cosine threshold (method default if unset)")
    ap.add_argument("--shingle-n", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.session import job_session

    spark = job_session(f"t4l-dedup-{args.method}")
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.operators import dedup

    docs = spark.read.parquet(args.input)
    idc = args.id_col

    if args.method == "exact":
        pairs = dedup.exact_duplicates(docs, id_col=idc, text_col=args.text_col)
    elif args.method == "minhash":
        cand = dedup.minhash_lsh_candidates(
            docs, id_col=idc, text_col=args.text_col, shingle_n=args.shingle_n)
        thr = args.threshold if args.threshold is not None else 0.8
        verified = dedup.jaccard_pairs(
            docs.join(
                cand.select(F.col("id_a").alias(idc))
                    .unionByName(cand.select(F.col("id_b").alias(idc)))
                    .distinct(),
                idc),
            id_col=idc, text_col=args.text_col,
            shingle_n=args.shingle_n, threshold=thr)
        pairs = verified.join(cand, ["id_a", "id_b"], "left_semi")
    elif args.method == "simhash":
        pairs = dedup.simhash_h1_pairs(docs, id_col=idc, text_col=args.text_col)
    elif args.method == "jaccard":
        thr = args.threshold if args.threshold is not None else 0.8
        pairs = dedup.jaccard_pairs(docs, id_col=idc, text_col=args.text_col,
                                    shingle_n=args.shingle_n, threshold=thr)
    else:  # embedding
        thr = args.threshold if args.threshold is not None else 0.95
        pairs = dedup.embedding_near_duplicates(
            docs, id_col=idc, vec_col=args.vec_col, threshold=thr)

    pairs.write.mode("overwrite").parquet(args.out)
    pairs = spark.read.parquet(args.out)
    result = {"method": args.method, "pairs": pairs.count(), "out": args.out}

    if args.keep:
        # survivor rule: exactly ONE survivor (smallest id) per
        # connected component of the dup graph — union-find closure via
        # dedup.connected_components (a per-pair drop-the-max shortcut
        # keeps extra survivors in components like {(1,3),(2,3)})
        if args.method == "exact":
            # groups are (dup_key, n_docs, keeper): cliques, so the
            # per-group keeper IS the component survivor already
            keyed = docs.select(
                F.col(idc),
                dedup.exact_dup_key(F.col(args.text_col)).alias("dup_key"))
            drop = (keyed.join(pairs.where(F.col("n_docs") > 1), "dup_key")
                    .where(F.col(idc) != F.col("keeper"))
                    .select(idc))
            kept = docs.join(drop, idc, "left_anti")
        else:
            kept = dedup.keep_survivors(docs, pairs, id_col=idc)
        kept.write.mode("overwrite").parquet(args.keep)
        result["kept"] = spark.read.parquet(args.keep).count()
        result["dropped"] = docs.count() - result["kept"]
        result["keep_out"] = args.keep

    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
