"""The driver-facing query catalog: every implemented operator exposed
as a (spark, sf_dir) -> DataFrame callable plus, where SQL-expressible,
a DuckDB oracle (see ``oracles.py`` for the extraction family).

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing values. Floats are rounded
(typically 6 dp) on BOTH sides so cross-engine summation-order noise
cannot flip the hash; ints are cast to BIGINT to align schemas.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens as tok_fn
from ..functions import vectors as vec_fn
from ..functions.colmemo import memo as _memo
from ..operators import dedup as dedup_ops
from ..operators import extraction
from ..sources import synth

Query = Callable[[SparkSession, str], DataFrame]


def _smemo(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Per-SESSION memo for shared plan prefixes (base scans, the
    docs/extracted lineage, label centroids). These are deterministic
    pure functions of (session, sf_dir); what is stored is an immutable
    UNEXECUTED DataFrame plan — never data, results, or anything
    ``.cache()``-like: every query still scans the parquet inputs at
    execution time. The memo exists because classic PySpark Datasets
    are eagerly analyzed, so rebuilding an identical prefix on every
    query invocation re-pays both the py4j construction chatter and the
    JVM-side analysis of the same subtree (measured 0.4-0.7 s per build
    for the extraction lineage). Keyed on the session object itself, so
    a new session (or another sf_dir) never sees a stale frame."""
    m = spark.__dict__.setdefault("_t4l_plan_memo", {})
    got = m.get(key)
    if got is None:
        got = m[key] = build()
    return got


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table scan (session-memoized: ``read.parquet`` eagerly
    resolves the schema — ~80 ms of py4j + footer reads per call)."""
    return _smemo(spark, ("t", sf_dir, name),
                  lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parallelized scan for CPU-heavy per-row operators: the testdata
    parquet files are single row groups (one scan task), so without an
    explicit repartition every regex/md5 runs serially. The shuffle
    moves only the small raw table; at 100 TB real inputs have thousands
    of row groups and this becomes a no-op coalesce."""
    df = _t(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _smemo(spark, ("docs", sf_dir),
                  lambda: synth.docs_from_documents(_tp(spark, sf_dir, "documents")))


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin the date format list for oracle parity (time spans are always
    # 'MMM d, yyyy' in the synthetic corpus)
    return _smemo(spark, ("extracted", sf_dir), lambda: extraction.extract(
        _docs(spark, sf_dir), date_formats=["MMM d, yyyy"]))


# ---------------------------------------------------------------------------
# extraction family (the flagship operators)
# ---------------------------------------------------------------------------


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _extracted(spark, sf_dir)
    return out.select(
        "doc_id", F.explode("extracted").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").cast("bigint").alias("out_offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def q_extract_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _extracted(spark, sf_dir)
    return out.select(
        "doc_id", "title", "author", "publication_date",
        F.date_format("cleaned_date", "yyyy-MM-dd HH:mm:ss").alias("pub_ts"),
        "content_type",
        F.col("type_confidence").cast("double").alias("type_confidence"),
        "error",
        F.col("spans_in").cast("bigint").alias("spans_in"),
        F.col("spans_kept").cast("bigint").alias("spans_kept"),
        F.col("content_chars").cast("bigint").alias("content_chars"),
    )


def q_extract_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _extracted(spark, sf_dir)
    return (
        out.select("doc_id", F.explode("extracted").alias("s"))
        .where(F.col("s.media_ref") != "")
        .select("doc_id", F.col("s.kind").alias("kind"), F.col("s.media_ref").alias("media_ref"))
    )


def q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..barrier import barrier

    # barrier: HashAggregate does no common-subexpression elimination,
    # so grouping directly on the derived columns would inline the full
    # extraction tree into every aggregate input (measured 71s -> ~3s).
    out = barrier(
        _extracted(spark, sf_dir).select(
            "content_type", "error", "spans_in", "spans_kept", "content_chars"
        )
    )
    return out.groupBy("content_type").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("spans_in").cast("bigint").alias("spans_in"),
        F.sum("spans_kept").cast("bigint").alias("spans_kept"),
        F.sum("content_chars").cast("bigint").alias("content_chars"),
        F.sum(F.when(F.col("error"), 1).otherwise(0)).cast("bigint").alias("n_errors"),
    )


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as text_fn

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").cast("bigint").alias("offset"),
        text_fn.clean_text(F.col("s.text")).alias("cleaned"),
    )


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import urls as url_fn

    docs = _docs(spark, sf_dir)
    un = url_fn.normalize_url(F.col("url"))
    return docs.select(
        "doc_id", un.alias("url_norm"), url_fn.is_roundup_url(un).alias("is_roundup")
    )


# ---------------------------------------------------------------------------
# relational operators over the TPC-H-ish tables (SURVEY §2.1-2.6)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-style hash aggregate (scan S1 + agg A7): map-side partial agg,
    one shuffle on a 6-value key."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: ORDER BY date DESC LIMIT -> TakeOrderedAndProject (top-k, no
    global sort materialization)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", F.col("o_orderdate").cast("string").alias("o_orderdate"), "o_totalprice")
    )


def q_doc_vec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: article<->vector inner join (broadcast at these sizes)."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id, "inner").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        F.col("label").cast("bigint").alias("label"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


def q_member_recount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: member-count recount — counts per key joined back to the dim,
    including zero-member keys (the reference's cluster-count fixer)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    counts = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return c.join(counts, c.c_custkey == counts.o_custkey, "left").select(
        F.col("c_custkey").cast("bigint").alias("custkey"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n_orders"),
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: the resume primitive — rows not present in the 'done' set."""
    c = _t(spark, sf_dir, "customer")
    # "recent orders" as the done-set so the anti-join is selective
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "1997-06-01")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").cast("bigint").alias("custkey"), "c_name"
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: argmax per key via window rank (the cluster-argmax pattern)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            F.col("o_orderkey").cast("bigint").alias("orderkey"),
            "o_totalprice",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def q_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: dimension lookup — explicitly broadcast both small dims."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").cast("bigint").alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"))
    )


def q_full_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: old-vs-new count reconciliation via full outer join."""
    o = _t(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderdate") < "1995-01-01").groupBy("o_custkey").agg(F.count("*").alias("old_cnt"))
    new = o.where(F.col("o_orderdate") >= "1995-01-01").groupBy("o_custkey").agg(F.count("*").alias("new_cnt"))
    return old.join(new, "o_custkey", "full_outer").select(
        F.col("o_custkey").cast("bigint").alias("custkey"),
        F.coalesce("old_cnt", F.lit(0)).cast("bigint").alias("old_cnt"),
        F.coalesce("new_cnt", F.lit(0)).cast("bigint").alias("new_cnt"),
    )


# ---------------------------------------------------------------------------
# dedup family (training-data pipeline)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    out = dedup_ops.exact_duplicates(d)
    return out.select("dup_key", F.col("n_docs").cast("bigint").alias("n_docs"),
                      F.col("keeper").cast("bigint").alias("keeper"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    out = dedup_ops.minhash_lsh_candidates(d, num_hashes=8, bands=2, shingle_n=3)
    return out.select(F.col("id_a").cast("bigint").alias("id_a"),
                      F.col("id_b").cast("bigint").alias("id_b"))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    out = dedup_ops.jaccard_pairs(d, shingle_n=3, threshold=0.1)
    return out.select(F.col("id_a").cast("bigint").alias("id_a"),
                      F.col("id_b").cast("bigint").alias("id_b"), "jaccard")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        dedup_ops.simhash16(F.col("text")).cast("bigint").alias("simhash"),
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    out = dedup_ops.embedding_near_duplicates(e, threshold=0.30)
    return out.select(F.col("id_a").cast("bigint").alias("id_a"),
                      F.col("id_b").cast("bigint").alias("id_b"), "cosine")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 query vectors.

    The baseline ANN path: normalize once, broadcast the (tiny) query
    side, window-rank per query. At scale the candidate side is
    pre-bucketed (q_ann_lsh)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    normed = e.select(*_memo(
        ("q_ann_topk_normed",),
        lambda: [
            F.col("vec_id").cast("bigint").alias("vid"),
            vec_fn.l2_normalize(F.col("embedding").cast("array<double>")).alias("v"),
        ],
    ))
    q = normed.where(F.col("vid") < 5).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv")
    )
    sim = _memo(("q_ann_topk_sim",), lambda: vec_fn.dot(F.col("qv"), F.col("v")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.asc("vid"))
    return (
        F.broadcast(q).crossJoin(normed)
        .where(F.col("qid") != F.col("vid"))
        .withColumn("cos_raw", sim)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("qid", F.col("vid").alias("neighbor"),
                F.round(F.col("cos_raw"), 6).alias("cosine"),
                F.col("rk").cast("bigint").alias("rk"))
    )


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing: 4-bit key from the signs of fixed dims.

    The scale path for ANN/near-dup: one shuffle on the bucket key;
    buckets are the candidate sets."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    bits = sum(
        (F.when(F.get(v, d) >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j, d in enumerate([0, 8, 16, 24])),
        F.lit(0),
    )
    return (
        e.select(F.col("vec_id").cast("bigint").alias("vec_id"), bits.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language heuristic + token counts in one pass."""
    d = _tp(spark, sf_dir, "documents")
    t = F.col("text")
    words = tok_fn.token_count_ws(t)
    stop = F.size(F.filter(F.split(F.lower(t), r"\s+"), lambda x: x.isin("the", "a", "of", "and")))
    alnum = F.length(F.regexp_replace(t, r"[^A-Za-z0-9]", ""))
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        words.cast("bigint").alias("n_words"),
        tok_fn.token_count_bpe_regex(t).cast("bigint").alias("n_bpe_tokens"),
        tok_fn.token_count_proxy(t).cast("bigint").alias("n_tokens_proxy"),
        F.round(stop.cast("double") / F.greatest(words, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(alnum.cast("double") / F.greatest(F.length(t), F.lit(1)), 6).alias("alnum_ratio"),
        F.when(stop.cast("double") / F.greatest(words, F.lit(1)) > 0.05, F.lit("en"))
        .otherwise(F.lit("unknown")).alias("lang_guess"),
        F.substring(F.md5(F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))), 1, 16).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# vectors / clustering
# ---------------------------------------------------------------------------


def q_centroid_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-label centroid via posexplode + hash agg (elementwise mean)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(F.col("label").cast("bigint").alias("label"),
                 F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
        .select("label", F.col("pos").cast("bigint").alias("pos"), "centroid_val")
    )


def _label_centroids(e: DataFrame) -> DataFrame:
    return (
        e.select(*_memo(("label_cent_explode",), lambda: [
            F.col("label").cast("bigint").alias("label"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")]))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select("label", _memo(("label_cent_collect",), lambda: F.transform(
            "pairs", lambda p: p["cv"]).alias("centroid")))
    )



def _cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_centroids over the embeddings table — session-memoized
    shared prefix (see _smemo): five queries derive from this subtree."""
    return _smemo(spark, ("label_centroids", sf_dir),
                  lambda: _label_centroids(_t(spark, sf_dir, "embeddings")))

def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/O3: nearest-centroid assignment with the 0.82 threshold
    (cluster_manager.py:111-132). r6: the N×k expansion + row_number
    window (sort + keyed shuffle of N×k scored rows) is replaced by a
    per-row argmax — the centroid set is collected into one broadcast
    array row and array_min over struct(-cos, label) picks the winner
    as a pure projection (the window-free shape similarity._argmax_cell
    uses). Tie-break (cos DESC, label ASC) and the emitted rows are
    identical: cosine_similarity never yields NaN (zero-norm -> 0.0),
    so lexicographic struct-min == the window's rank-1 row."""
    e = _t(spark, sf_dir, "embeddings")
    cents = _cents(spark, sf_dir)
    cent_arr = cents.agg(
        F.collect_list(F.struct(F.col("label"), F.col("centroid"))).alias("_cells")
    )
    def _build_best():
        v = F.col("embedding").cast("array<double>")
        return F.array_min(
            F.transform(
                F.col("_cells"),
                lambda c: F.struct(
                    (-vec_fn.cosine_similarity(v, c["centroid"])).alias("neg_cs"),
                    c["label"].alias("label"),
                ),
            )
        )

    best = _memo(("q_cluster_assign_best",), _build_best)
    scored = (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent_arr))
        .select("vec_id", best.alias("best"))
    )
    return (
        # operator default is the reference 0.82 (clustering.py); this
        # corpus's embeddings are unclustered so the parity query uses
        # 0.2 to exercise both the assigned and unassigned branches
        scored.where(-F.col("best.neg_cs") > 0.2)
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("best.label").alias("assigned_label"),
            F.round(-F.col("best.neg_cs"), 6).alias("cosine"),
        )
    )


def q_cluster_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: all-pairs centroid similarity (merge candidates > 0.9 would
    be merged; emit all pairs with the flag so the set is non-trivial)."""
    e = _t(spark, sf_dir, "embeddings")
    cents = _cents(spark, sf_dir)
    a = cents.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cents.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    sim = vec_fn.cosine_similarity(F.col("ca"), F.col("cb"))
    return (
        a.crossJoin(b)
        .where(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", F.round(sim, 6).alias("cosine"),
                (sim > 0.9).alias("should_merge"))
    )


def q_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: L2 normalization (zero vector unchanged), elementwise output."""
    e = _t(spark, sf_dir, "embeddings")
    normed = e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        vec_fn.l2_normalize(F.col("embedding").cast("array<double>")).alias("u"),
    )
    return normed.select(
        "vec_id", F.posexplode("u").alias("pos", "val")
    ).select("vec_id", F.col("pos").cast("bigint").alias("pos"), F.round("val", 6).alias("val"))


# ---------------------------------------------------------------------------
# events (batch renditions of the streaming-shaped workload)
# ---------------------------------------------------------------------------


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window aggregate (batch twin of the Structured
    Streaming pipeline in streaming/), joined with the per-type rate
    summary (A7 analog) — the former standalone ``events_rates`` query,
    consolidated on the event_type key to stay inside the driver's
    50-query snapshot (its oracle SQL is joined verbatim too)."""
    ev = _t(spark, sf_dir, "events")
    win = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("bigint")
    windowed = (
        ev.groupBy(win.alias("window_start"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
    )
    rates = q_events_rates(spark, sf_dir).select(
        "event_type",
        F.col("n").alias("type_n"),
        F.col("share").alias("type_share"),
        F.col("avg_value").alias("type_avg_value"),
    )
    return windowed.join(F.broadcast(rates), "event_type")


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) via lag + cumulative sum windows."""
    from pyspark.sql.window import Window

    # parquet stores TIMESTAMP_NTZ; session TZ is UTC so the cast is
    # value-preserving and unix_micros becomes legal
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_sess", F.when(F.lag("ts").over(w).isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    flagged = flagged.withColumn("sess_idx", F.sum("new_sess").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    ))
    return flagged.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("sess_idx").cast("bigint").alias("sess_idx"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).cast("bigint").alias("duration_us"),
    )


def q_events_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 metrics analog: per-type counts + error share."""
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.count("*").cast("double").alias("_total"))
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .crossJoin(F.broadcast(total))
        .select("event_type", "n", F.round(F.col("n") / F.col("_total"), 6).alias("share"), "avg_value")
    )


def q_confidence_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 over a numeric stream: coerce + clamp to [0,1]."""
    from ..functions import confidence as conf_fn

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.round(conf_fn.coerce_confidence(F.col("value") / 10 - 0.2), 6).alias("conf"),
    )


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

SPARK_QUERIES: dict[str, Query] = {
    "extract_spans": q_extract_spans,
    "extract_meta": q_extract_meta,
    "extract_media": q_extract_media,
    "extract_metrics": q_extract_metrics,
    "clean_text": q_clean_text,
    "url_normalize": q_url_normalize,
    "pricing_summary": q_pricing_summary,
    "top_orders": q_top_orders,
    "doc_vec_join": q_doc_vec_join,
    "member_recount": q_member_recount,
    "anti_join": q_anti_join,
    "topk_per_group": q_topk_per_group,
    "broadcast_lookup": q_broadcast_lookup,
    "full_outer_counts": q_full_outer_counts,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "ann_topk": q_ann_topk,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "text_stats": q_text_stats,
    "centroid_means": q_centroid_means,
    "cluster_assign": q_cluster_assign,
    "cluster_merge_pairs": q_cluster_merge_pairs,
    "l2_normalize": q_l2_normalize,
    "events_window": q_events_window,
    "events_sessions": q_events_sessions,
    "confidence_clamp": q_confidence_clamp,
}


# ---------------------------------------------------------------------------
# round-1 additions: section join, skew, hash embeddings, chunking
# ---------------------------------------------------------------------------


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-doc '\\n\\n' section join of kept text spans
    (extractContent.py:531,538) — per-row array fold, no shuffle."""
    out = _extracted(spark, sf_dir)
    return out.select(
        "doc_id", extraction.main_content(F.col("extracted")).alias("main_content")
    )


def q_domain_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe doc count per domain (espn.com holds ~30% of docs):
    two-phase salted aggregate; result equals a plain GROUP BY."""
    from ..functions import urls as url_fn
    from ..operators import skew

    docs = _docs(spark, sf_dir)
    domains = docs.select(
        "doc_id", url_fn.url_domain(url_fn.normalize_url(F.col("url"))).alias("domain")
    )
    return skew.salted_count(domains, "domain", row_key="doc_id", buckets=16).select(
        F.col("grp").alias("domain"), "n"
    )


def q_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 analog: deterministic hashed-token embedding, L2-normalized,
    elementwise output for the oracle compare."""
    from ..functions import embeddings as emb_fn

    d = _tp(spark, sf_dir, "documents")
    emb = emb_fn.embed_documents(d, dim=16)
    return emb.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), F.round("val", 6).alias("val"))


def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 analog: chunk text into <=40-token windows (per-row HOFs)."""
    d = _tp(spark, sf_dir, "documents")
    chunks = tok_fn.chunk_text_by_tokens(F.col("text"), 40)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        tok_fn.token_count_ws(F.col("chunk")).cast("bigint").alias("chunk_tokens"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    )


def q_date_normalize_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 fuzzy-date pandas UDF (rows-only check: dateutil fuzzy parsing
    is not SQL-expressible). Parses the corpus' publication dates plus
    deliberately messy variants."""
    from ..functions import dates as date_fn

    out = _extracted(spark, sf_dir)
    messy = F.concat(F.lit("Published on "), F.col("publication_date"), F.lit(" at 06:30 AM"))
    return out.where(F.col("publication_date") != "").select(
        "doc_id",
        "publication_date",
        F.date_format(
            date_fn.fuzzy_parse_date_udf(messy), "yyyy-MM-dd HH:mm:ss"
        ).alias("fuzzy_ts"),
    )


SPARK_QUERIES.update({
    "main_content": q_main_content,
    "domain_counts_salted": q_domain_counts_salted,
    "hash_embeddings": q_hash_embeddings,
    "token_chunks": q_token_chunks,
    "date_normalize_fuzzy": q_date_normalize_fuzzy,
})


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 analog: structured-metadata extraction from embedded JSON
    (the reference parses JSON-LD script blocks; here the events.props
    JSON column) via get_json_object — pushed-down JVM-side parsing."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


SPARK_QUERIES["json_props"] = q_json_props


def q_enrichment_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9: short-primary enrichment with longest-alternate acceptance
    (primary/alternates synthesized deterministically from the text)."""
    from ..functions import enrichment

    d = _t(spark, sf_dir, "documents")
    primary = F.substring(F.col("text"), 1, (F.pmod(F.col("n_chars") * 7, F.lit(900)) + 1).cast("int"))
    alt1 = F.col("text")
    alt2 = F.substring(F.col("text"), 1, 350)
    chosen = enrichment.choose(primary, alt1, alt2)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length(primary).cast("bigint").alias("primary_len"),
        F.length(chosen).cast("bigint").alias("final_len"),
        (F.length(chosen) != F.length(primary)).alias("enriched"),
    )


def q_user_event_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: set accumulation — distinct event types per user
    (collect_set), emitted as a sorted joined string for the oracle."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.size(F.collect_set("event_type")).cast("bigint").alias("n_types"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
    )


SPARK_QUERIES["enrichment_choice"] = q_enrichment_choice
SPARK_QUERIES["user_event_sets"] = q_user_event_sets


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: label-mean coarse centroids (normalized), probe
    the 2 nearest cells per query, exact cosine within."""
    from ..operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    cents = _cents(spark, sf_dir).select(*_memo(("ivf_cents_norm",), lambda: [
        F.col("label").alias("cell_id"),
        vec_fn.l2_normalize(F.col("centroid")).alias("centroid"),
    ]))
    queries_df = e.where(F.col("vec_id") < 5)
    return similarity.ivf_topk(e, queries_df, cents, k=5, nprobe=2)


SPARK_QUERIES["ann_ivf"] = q_ann_ivf


# ---------------------------------------------------------------------------
# round-2 additions: MERGE/upsert (S12-S14, B3), cluster maintenance
# (zero-centroid repair, unassign), and the unit-only scalars promoted
# to oracle-gated queries (C5, C8, A4, F3, C11, C12)
# ---------------------------------------------------------------------------


def _upsert_source(d: DataFrame) -> DataFrame:
    """Deterministic merge batch: every 10th doc updated (text prefixed),
    every 100th doc also inserted as a brand-new row (shifted id)."""
    updates = d.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.lit("UPDATED "), F.col("text")).alias("text"),
        "lang",
        F.lit("merge").alias("source"),
        (F.length(F.col("text")) + 8).cast("bigint").alias("n_chars"),
    )
    inserts = d.where(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("NEW "), F.col("doc_id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("merge").alias("source"),
        F.length(F.concat(F.lit("NEW "), F.col("doc_id").cast("string"))).cast("bigint").alias("n_chars"),
    )
    return updates.unionByName(inserts)


def q_upsert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/B3: batch upsert (db_access.py:291-317 on_conflict=id) — the
    dataflow half of MERGE INTO; matched rows replaced, new rows added."""
    from ..operators import merge as merge_ops

    d = _t(spark, sf_dir, "documents")
    merged = merge_ops.upsert(d, _upsert_source(d), key="doc_id")
    return merged.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5("text").alias("text_md5"),
        "lang", "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def q_update_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: partial-column row update (update_article.py:15-41) — only
    the supplied columns change, unmatched rows pass through."""
    from ..operators import merge as merge_ops

    d = _t(spark, sf_dir, "documents")
    updates = d.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit("de").alias("lang"), F.lit("updated").alias("source")
    )
    merged = merge_ops.update_columns(d, updates, key="doc_id")
    return merged.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5("text").alias("text_md5"),
        "lang", "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def q_zero_centroid_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-centroid repair (db_access.py:319-406): labels ≡ 0 (mod 3)
    get their centroid zeroed in the fixture, then recomputed as the
    member-embedding mean."""
    from ..operators import clustering

    e = _t(spark, sf_dir, "embeddings")
    cents = _cents(spark, sf_dir)
    clusters = cents.select(
        F.col("label").alias("cluster_id"),
        F.when(F.col("label") % 3 == 0, F.transform("centroid", lambda _: F.lit(0.0)))
        .otherwise(F.col("centroid")).alias("centroid"),
    ).join(
        e.groupBy(F.col("label").cast("bigint").alias("cluster_id"))
        .agg(F.count("*").alias("member_count")),
        "cluster_id",
    )
    memberships = e.select("vec_id", F.col("label").cast("bigint").alias("cluster_id"))
    repaired = clustering.repair_zero_centroids(clusters, memberships, e)
    return repaired.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.posexplode("centroid").alias("pos", "val"),
        "repaired",
    ).select(
        "cluster_id", F.col("pos").cast("bigint").alias("pos"),
        F.round("val", 6).alias("val"), "repaired",
    )


def q_cluster_unassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-fixer unassign side
    (sql/recalculate_all_cluster_member_counts.sql:14-85): members of
    <2-member clusters emitted for cluster_id nulling. Fixture: every
    50th vector is exiled to its own singleton cluster."""
    from ..operators import clustering

    e = _t(spark, sf_dir, "embeddings")
    memberships = e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.when(F.col("vec_id") % 50 == 0, F.col("vec_id") + 10_000)
        .otherwise(F.col("label")).cast("bigint").alias("cluster_id"),
    )
    return clustering.unassigned_members(memberships).select(
        "vec_id", F.col("old_cluster_id").cast("bigint").alias("old_cluster_id")
    )


def q_parse_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: embedding-string parse (vector_utils.py:16-40 analog) over
    deterministic bracketed/space-separated strings with an unparseable
    token (NULL element) every row."""
    e = _t(spark, sf_dir, "embeddings")
    i = F.col("vec_id").cast("string")
    i2 = (F.col("vec_id") * 2).cast("string")
    i3 = (F.col("vec_id") * 3).cast("string")
    s = F.when(
        F.col("vec_id") % 2 == 0,
        F.concat(F.lit("["), i, F.lit(", "), i2, F.lit(", x, "), i3, F.lit("]")),
    ).otherwise(F.concat(i, F.lit(" "), i2, F.lit(" x "), i3))
    parsed = vec_fn.parse_embedding_string(s)
    return e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode(parsed).alias("pos", "val"),
    ).select("vec_id", F.col("pos").cast("bigint").alias("pos"), "val")


def q_stride_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: dimension normalization by stride sampling (vector_utils.py:97-120)."""
    e = _t(spark, sf_dir, "embeddings")
    ds = vec_fn.stride_downsample(F.col("embedding").cast("array<double>"), 2)
    return e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode(ds).alias("pos", "val"),
    ).select("vec_id", F.col("pos").cast("bigint").alias("pos"), F.round("val", 6).alias("val"))


def q_running_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: greedy-assign running-mean update (cluster_manager.py:81):
    each vector folded into its label centroid at member_count=5."""
    e = _t(spark, sf_dir, "embeddings")
    cents = _cents(spark, sf_dir)
    joined = e.join(F.broadcast(cents), e.label == cents.label)
    nm = vec_fn.running_mean_update(
        F.col("centroid"), F.col("embedding").cast("array<double>"), F.lit(5)
    )
    return joined.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode(nm).alias("pos", "val"),
    ).select("vec_id", F.col("pos").cast("bigint").alias("pos"), F.round("val", 6).alias("val"))


def q_strip_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: strip tags + collapse ws + truncate (extractContent.py:419-424)."""
    from ..functions import text as text_fn

    d = _tp(spark, sf_dir, "documents")
    raw = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p> <b>key</b>"))
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        text_fn.strip_and_truncate(raw, 200).alias("stripped"),
    )


def q_truncate_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: truncate at word boundary (templates utils.py:255-277)."""
    from ..functions import text as text_fn

    d = _tp(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        text_fn.truncate_at_word_boundary(F.col("text"), 100).alias("truncated"),
    )


def q_unescape_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: HTML entity unescape chain (templates utils.py:31-40)."""
    from ..functions import text as text_fn

    d = _tp(spark, sf_dir, "documents")
    s = F.concat(
        F.lit("AT&amp;T &lt;b&gt; &quot;q&quot; &#39;a&#39;&nbsp;&mdash;&ndash;&hellip; "),
        F.substring(F.col("text"), 1, 40),
    )
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        text_fn.unescape_html_entities(s).alias("unescaped"),
    )


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means coarse-centroid job for IVF (2 Lloyd's
    iterations, k=4, deterministic lowest-id init)."""
    from ..operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(e, k=4, iters=2)
    return cents.select(
        F.col("cell_id").cast("bigint").alias("cell_id"),
        F.posexplode("centroid").alias("pos", "val"),
    ).select("cell_id", F.col("pos").cast("bigint").alias("pos"), F.round("val", 6).alias("val"))


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end learned IVF: spherical k-means coarse quantizer (k=4,
    2 Lloyd's iterations) feeding the nprobe=2 cell-probe ANN — the full
    production ANN pipeline, oracle-gated."""
    from ..operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(e, k=4, iters=2)
    queries_df = e.where(F.col("vec_id") < 5)
    return similarity.ivf_topk(e, queries_df, cents, k=5, nprobe=2)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode end-to-end: media spans -> typed media table
    (binary payload column) -> Arrow mapInPandas decode -> feature
    vectors. Image rows carry REAL encoded rasters of the closed-form
    test pattern — even seeds BMP (operators/bmp.py), odd seeds PNG
    (operators/png.py: CRC-checked chunk walk, zlib inflate, scanline
    unfilter) — and run the real pixel kernels; the oracle computes the
    features analytically without ever seeing bytes, so the hash match
    proves BOTH encode -> decode round trips. Video rows keep the
    documented hash stand-in (no mp4 codec in this container)."""
    from ..operators import multimodal

    out = _extracted(spark, sf_dir)
    media = multimodal.synth_bmp_payloads(multimodal.synth_media_table(out))
    feats = multimodal.decode_image_batch(media)
    return feats.select(
        "media_id",
        F.posexplode("feature").alias("pos", "val"),
        "ok",
    ).select("media_id", F.col("pos").cast("bigint").alias("pos"),
             F.round("val", 6).alias("val"), "ok")


def q_salted_domain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join of the Zipfian doc->domain table (espn.com holds
    ~30% of docs) against a domain dim via explicit salting; result is
    row-identical to the plain join."""
    from ..functions import urls as url_fn
    from ..operators import skew

    docs = _docs(spark, sf_dir)
    big = docs.select(
        "doc_id", url_fn.url_domain(url_fn.normalize_url(F.col("url"))).alias("domain")
    )
    small = big.select("domain").distinct().withColumn(
        "category",
        F.when(F.col("domain") == "www.espn.com", F.lit("hot")).otherwise(F.lit("cold")),
    )
    out = skew.salted_join(big, small, key="domain", row_key="doc_id", buckets=8)
    return out.select("doc_id", "domain", "category")


SPARK_QUERIES.update({
    "kmeans_centroids": q_kmeans_centroids,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "media_decode": q_media_decode,
    "salted_domain_join": q_salted_domain_join,
    "upsert_docs": q_upsert_docs,
    "update_columns": q_update_columns,
    "zero_centroid_repair": q_zero_centroid_repair,
    "cluster_unassign": q_cluster_unassign,
    "parse_embedding": q_parse_embedding,
    "stride_downsample": q_stride_downsample,
    "running_mean": q_running_mean,
    "strip_truncate": q_strip_truncate,
    "truncate_words": q_truncate_words,
    "unescape_entities": q_unescape_entities,
})


# ---------------------------------------------------------------------------
# round-3 additions: layout parse (north-star PDF path), cluster age
# sweep + isContent, Hamming-1 simhash, vendored-BPE token count, and
# the null-aware unassign APPLY through the merge layer.
#
# Registry sizing: the driver snapshots at most 50 queries (r2 recorded
# exactly the first 50 of 53), so same-grain single-purpose queries are
# CONSOLIDATED below (identical operators, identical oracles — unioned
# with an `op`/`method` tag or joined on the key) to keep every
# operator inside the driver's correctness gate. Mapping vs r2 keys:
#   ann_search      = ann_topk ('brute') ∪ ann_ivf ('ivf')
#   vector_scalars  = parse_embedding ∪ stride_downsample ∪
#                     running_mean ∪ l2_normalize   (op tag)
#   text_scalars    = strip_truncate ⋈ truncate_words ⋈ unescape_entities
#   merge_docs      = upsert_docs ('upsert') ∪ update_columns ('update')
#   unassign_apply  ⊃ cluster_unassign (adds the merge-layer NULL apply)
# ---------------------------------------------------------------------------


def q_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search, both paths in one result: the brute-force
    correctness baseline and the IVF probe (method tag)."""
    brute = q_ann_topk(spark, sf_dir).withColumn("method", F.lit("brute"))
    ivf = q_ann_ivf(spark, sf_dir).withColumn("method", F.lit("ivf"))
    return brute.unionByName(ivf)


def q_vector_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/C8/A4/C6 in one elementwise result, tagged by op."""
    return (
        q_parse_embedding(spark, sf_dir).withColumn("op", F.lit("parse"))
        .unionByName(
            q_stride_downsample(spark, sf_dir).withColumn("op", F.lit("stride")))
        .unionByName(q_running_mean(spark, sf_dir).withColumn("op", F.lit("rmean")))
        .unionByName(q_l2_normalize(spark, sf_dir).withColumn("op", F.lit("l2")))
    )


def q_text_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/C11/C12 in one per-doc row (single projection, no join —
    all three scalars come off the same scan)."""
    from ..functions import text as text_fn

    d = _tp(spark, sf_dir, "documents")
    raw = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p> <b>key</b>"))
    ent = F.concat(
        F.lit("AT&amp;T &lt;b&gt; &quot;q&quot; &#39;a&#39;&nbsp;&mdash;&ndash;&hellip; "),
        F.substring(F.col("text"), 1, 40),
    )
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        text_fn.strip_and_truncate(raw, 200).alias("stripped"),
        text_fn.truncate_at_word_boundary(F.col("text"), 100).alias("truncated"),
        text_fn.unescape_html_entities(ent).alias("unescaped"),
    )


def q_merge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12-S14/B3: both MERGE dataflow halves, tagged by op."""
    return (
        q_upsert_docs(spark, sf_dir).withColumn("op", F.lit("upsert"))
        .unionByName(q_update_columns(spark, sf_dir).withColumn("op", F.lit("update")))
    )


def q_unassign_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-fixer unassign side APPLIED through the merge layer
    (db_access.py:408-523): members of <2-member clusters get
    cluster_id set to NULL via update_columns — the NULL is visible in
    the result, exercising the matched-marker update path (a coalesce
    rendition cannot write NULL)."""
    from ..operators import clustering
    from ..operators import merge as merge_ops

    e = _t(spark, sf_dir, "embeddings")
    target = e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.when(F.col("vec_id") % 50 == 0, F.col("vec_id") + 10_000)
        .otherwise(F.col("label")).cast("bigint").alias("cluster_id"),
        F.col("label").cast("bigint").alias("orig_label"),
    )
    unassign = clustering.unassigned_members(target.select("vec_id", "cluster_id"))
    updates = unassign.select(
        "vec_id", F.lit(None).cast("bigint").alias("cluster_id")
    )
    merged = merge_ops.update_columns(target, updates, key="vec_id")
    return merged.select("vec_id", "cluster_id", "orig_label")


def q_layout_linearize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star PDF/layout parse: synthetic page-box spans (the
    documented parse-kernel stand-in) -> column detection ->
    reading-order linearization (operators/layout.py)."""
    from ..operators import layout

    d = _tp(spark, sf_dir, "documents")
    return layout.linearize_layout(layout.synth_layout_boxes(d))


def q_cluster_age_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster lifecycle maintenance (db_access.py:568-590 sweep +
    db_access.py:167-209 isContent reset): clusters idle > 3 days go
    OLD; clusters touched this pass lose their is_content flag.
    Fixture: updated_at = 2026-01-01 + (label % 7) days, now =
    2026-01-06; every 4th cluster is 'touched'."""
    from . import cluster_pipeline

    e = _t(spark, sf_dir, "embeddings")
    clusters = (
        e.groupBy(F.col("label").cast("bigint").alias("cluster_id"))
        .agg(F.count("*").cast("bigint").alias("member_count"))
        .select(
            "cluster_id", "member_count",
            (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
             + F.make_dt_interval(days=(F.col("cluster_id") % 7).cast("int"))).alias("updated_at"),
            F.when(F.col("cluster_id") % 2 == 0, F.lit("NEW")).alias("status"),
            (F.col("cluster_id") % 3 == 0).alias("is_content"),
        )
    )
    swept = cluster_pipeline.sweep_old_clusters(
        clusters, "2026-01-06 00:00:00", max_age_days=3
    )
    touched = clusters.where(F.col("cluster_id") % 4 == 0).select("cluster_id")
    out = cluster_pipeline.mark_content_stale(swept, touched)
    from ..functions.ids import deterministic_uuid

    return out.select(
        "cluster_id", "member_count", "status", "is_content",
        # C10 gate: the deterministic name-based UUID, mirrored in SQL
        deterministic_uuid(F.col("cluster_id")).alias("cluster_uuid"),
    )


def q_dedup_simhash_h1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-1 simhash near-dup pairs via 2x8-bit pigeonhole banding
    (dedup.simhash_h1_pairs)."""
    d = _tp(spark, sf_dir, "documents")
    out = dedup_ops.simhash_h1_pairs(d)
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "hamming",
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: REAL byte-pair encoding token count with the vendored merge
    tables (ref tiktoken at extractContent.py:120-125) alongside the
    whitespace count.  ``n_bpe`` folds the 66-rule table JVM-side
    (chained replace); ``n_bpe_1k`` encodes against the LEARNED
    1200-rule word-level vocab (functions/bpe_vocab.py) through the
    Arrow word-cache path; ``n_bpe_10k`` is the tiktoken-shaped
    production encoder — BYTE-level alphabet, case-sensitive category
    pre-tokenizer, >=10k learned merges (functions/bpe_vocab_bytes.py)
    — oracle-gated against a DuckDB staged-replace fold over
    hex(encode(pre_token)) of the same table."""
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        tok_fn.token_count_bpe(F.col("text")).alias("n_bpe"),
        tok_fn.token_count_bpe_arrow(F.col("text")).alias("n_bpe_1k"),
        tok_fn.token_count_bpe_bytes_arrow(F.col("text")).alias("n_bpe_10k"),
        tok_fn.token_count_ws(F.col("text")).cast("bigint").alias("n_ws"),
    )


# registry rebuild: swap the consolidated singles for their combined
# queries (operators unchanged — see the mapping comment above), then
# append the round-3 additions. Total stays at 50 = the driver cap.
for _k in (
    "ann_topk", "ann_ivf", "parse_embedding", "stride_downsample",
    "running_mean", "l2_normalize", "strip_truncate", "truncate_words",
    "unescape_entities", "upsert_docs", "update_columns", "cluster_unassign",
):
    del SPARK_QUERIES[_k]

SPARK_QUERIES.update({
    "ann_search": q_ann_search,
    "vector_scalars": q_vector_scalars,
    "text_scalars": q_text_scalars,
    "merge_docs": q_merge_docs,
    "unassign_apply": q_unassign_apply,
    "layout_linearize": q_layout_linearize,
    "cluster_age_sweep": q_cluster_age_sweep,
    "dedup_simhash_h1": q_dedup_simhash_h1,
    "token_count_bpe": q_token_count_bpe,
})


# ---------------------------------------------------------------------------
# round-4 additions: the raw-HTML entry surface (north star "batched
# DOM tokenization" — ref extractContent.py:258-320 consumes fetched
# HTML; the readability fallback :208-217 parses raw markup). Registry
# stays at 50: events_rates was consolidated into events_window above.
# ---------------------------------------------------------------------------


def q_html_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the span corpus to real HTML pages (Catalyst projection),
    then DOM-tokenize the HTML back into spans with the stdlib parser
    inside mapInArrow (operators/html_tokenize.py). The oracle derives
    the spans arithmetically and never sees HTML — a hash match proves
    the full render -> entity-escape -> parse -> suppress-chrome round
    trip is exact, span-for-span."""
    from ..operators import html_tokenize as ht

    docs = _docs(spark, sf_dir).select("doc_id", "spans")
    parsed = ht.tokenize_html(ht.render_html(docs))
    return parsed.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").cast("bigint").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


SPARK_QUERIES["html_tokenize"] = q_html_tokenize
