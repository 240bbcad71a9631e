"""Media-decode bench at realistic payload sizes (round-5 verdict #7).

The shipped JPEG kernel's batch stages (IDCT, upsample, colorspace) are
vectorized numpy, but the entropy decoder walks the bitstream in Python.
This leg measures, at KB-MB payload sizes:

  * offline: decode wall time per image size, with the share spent in
    the entropy stage (cProfile over decode_jpeg), payload KB, MPix/s;
  * in-Spark: docs/s through ``decode_image_batch`` over a corpus whose
    image rows carry real baseline JPEGs at a realistic edge size.

Results append to BENCH/media.json (one entry per run, loadavg-stamped,
keyed by the bench code key so before/after across the entropy-decoder
rewrite stays attributable).

Usage: python tools/bench_media.py [--sizes 64,128,256,512] [--spark-docs 4000]
       [--spark-size 128] [--no-spark]
"""
from __future__ import annotations

import argparse
import cProfile
import io
import json
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _code_key, _load1  # noqa: E402

OUT = os.path.join(REPO, "BENCH", "media.json")


# entropy-stage symbols whose cumulative time we attribute to the
# bitstream walk (everything that is not the batch IDCT/reassembly)
ENTROPY_FUNCS = ("_decode_block", "_decode_huffman", "bit", "bits",
                 "_fill", "_decode_scan", "_unstuff")


def bench_offline(sizes: list[int], reps: int = 3) -> list[dict]:
    import numpy as np

    from tackle4losscontentextraction_spark.operators import bmp, jpeg

    rows = []
    for size in sizes:
        px = bmp.synth_pattern(size, size, seed=(size * 7) % 256)
        payload = jpeg.encode_jpeg(px, quality=85, subsample=True)
        # correctness probe: decode once, compare vs source pattern
        dec = jpeg.decode_jpeg(payload)
        err = float(np.mean(np.abs(dec.astype(np.int64) - px.astype(np.int64))))

        best = 1e18
        for _ in range(reps):
            t0 = time.perf_counter()
            jpeg.decode_jpeg(payload)
            best = min(best, time.perf_counter() - t0)

        pr = cProfile.Profile()
        pr.enable()
        jpeg.decode_jpeg(payload)
        pr.disable()
        buf = io.StringIO()
        st = pstats.Stats(pr, stream=buf)
        total = st.total_tt or 1e-12
        entropy_t = 0.0
        for (fn, _ln, name), (_cc, _nc, tt, _ct, _callers) in st.stats.items():
            if name in ENTROPY_FUNCS and ("jpeg" in fn or "~" in fn):
                entropy_t += tt
        rows.append({
            "size_px": size,
            "payload_kb": round(len(payload) / 1024.0, 1),
            "decode_sec": round(best, 4),
            "mpix_per_sec": round(size * size / best / 1e6, 3),
            "entropy_share": round(entropy_t / total, 3),
            "mean_abs_err": round(err, 2),
            "load_1min": _load1(),
        })
        print(json.dumps(rows[-1]))
    return rows


def bench_spark(n_docs: int, size: int) -> dict:
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.operators import (extraction_arrow,
                                                              multimodal)
    from tackle4losscontentextraction_spark.session import get_spark
    from tackle4losscontentextraction_spark.sources import synth

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="t4l-bench-media", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs = synth.synth_docs(spark, n_docs, partitions=max(cpus, 16)).cache()
    docs.count()
    out = extraction_arrow.extract_arrow(docs)
    media = multimodal.synth_jpeg_payloads(
        multimodal.synth_media_table(out), width=size, height=size
    ).cache()
    n_media = media.count()  # materialize payloads outside the timed region
    load0 = _load1()
    spark.sparkContext.setJobDescription(f"media_decode jpeg {size}px x{n_media}")
    t0 = time.perf_counter()
    agg = (multimodal.decode_image_batch(media)
           .agg(F.count("*").alias("n"),
                F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"))
           .collect()[0])
    wall = time.perf_counter() - t0
    res = {
        "n_docs": n_docs,
        "n_media": int(agg.n),
        "n_ok": int(agg.n_ok),
        "size_px": size,
        "decode_wall_sec": round(wall, 2),
        "media_per_sec": round(agg.n / wall, 1),
        "cpus": cpus,
        "load_1min_before": load0,
        "load_1min_after": _load1(),
    }
    print(json.dumps(res))
    spark.stop()
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="64,128,256,512")
    ap.add_argument("--spark-docs", type=int, default=4000)
    ap.add_argument("--spark-size", type=int, default=128)
    ap.add_argument("--no-spark", action="store_true")
    args = ap.parse_args()

    entry: dict = {
        "code_key": _code_key(),
        "offline": bench_offline([int(s) for s in args.sizes.split(",")]),
    }
    if not args.no_spark:
        entry["spark"] = bench_spark(args.spark_docs, args.spark_size)

    acc = {"runs": []}
    if os.path.exists(OUT):
        try:
            with open(OUT) as f:
                acc = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
    acc.setdefault("runs", []).append(entry)
    with open(OUT, "w") as f:
        json.dump(acc, f, indent=1)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
