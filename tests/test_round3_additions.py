"""Round-3 additions: vendored BPE, layout linearization, Hamming-1
simhash, null-aware update, checkpointed iterative loops, fsutil."""

from __future__ import annotations

from pyspark.sql import functions as F

from tackle4losscontentextraction_spark.functions import tokens as tok_fn
from tackle4losscontentextraction_spark.operators import dedup, layout
from tackle4losscontentextraction_spark.operators import merge as merge_ops


# ---------------------------------------------------------------------------
# BPE token count
# ---------------------------------------------------------------------------


def test_bpe_known_values(spark):
    cases = {
        "the": 1,            # t h -> th, th e -> the
        "and": 1,            # a n -> an, an d -> and
        "xyz": 3,            # no merges fire
        "the theatre": 1 + 3,  # thea-tre: th,e,a,t,r,e -> the,at,re -> 3
        "": 0,
        "   ": 0,
    }
    rows = [(i, s) for i, (s, _) in enumerate(cases.items())]
    df = spark.createDataFrame(rows, "i int, s string").select(
        "s", tok_fn.token_count_bpe(F.col("s")).alias("n")
    )
    got = {r.s: r.n for r in df.collect()}
    for s, want in cases.items():
        assert got[s] == want, (s, got[s], want)
        assert tok_fn.bpe_tokens_py(s) == want, (s, "py twin")


def test_bpe_spark_matches_python_twin(spark):
    hostile = [
        "the quick brown fox", "a  b\t\nc", " leading and trailing  ",
        "don't stop-me.now!", "café ñandú", "th th th th",
        "UPPER Case MiXeD", "1234 56 filter merge", "%%% ~~~ ```",
        "extraction pipeline query join window scan",
    ]
    df = spark.createDataFrame([(s,) for s in hostile], "s string").select(
        "s", tok_fn.token_count_bpe(F.col("s")).alias("n")
    )
    for r in df.collect():
        assert r.n == tok_fn.bpe_tokens_py(r.s), r.s


def test_bpe_seeded_random_corpus_matches_twin(spark):
    """200 seeded-random strings over a hostile alphabet (whitespace
    runs, unicode, punctuation, digits) — Spark vs the Python twin."""
    import random

    rng = random.Random(42)
    alphabet = "abcdefghijklmnopqrstuvwxyz  \t\n.,!?'\"%0123456789éñ中-_()"
    corpus = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "i int, s string"
    ).select("i", tok_fn.token_count_bpe(F.col("s")).alias("n"))
    got = {r.i: r.n for r in df.collect()}
    for i, s in enumerate(corpus):
        assert got[i] == tok_fn.bpe_tokens_py(s), repr(s)


def test_bpe_merge_table_is_consistent():
    # every merge's left/right side must itself be formable (a single
    # char or the product of an EARLIER merge) — guards against dead
    # rules sneaking in when the table is edited
    formable = set()
    for a, b in tok_fn.BPE_MERGES:
        for side in (a, b):
            assert len(side) == 1 or side in formable, f"dead rule ({a},{b})"
        formable.add(a + b)


# ---------------------------------------------------------------------------
# layout linearization
# ---------------------------------------------------------------------------


def test_layout_reading_order_golden(spark):
    # two pages; page 0 has two columns (3 + 2 boxes), page 1 one box.
    # Input order is scrambled — the operator must recover reading order
    # from geometry alone.
    rows = [
        # doc_id, box_id, page, x, y, w, h, text
        (1, 4, 0, 320.0, 60.0, 260.0, 200.0, "R1"),   # right col, top
        (1, 0, 0, 20.0, 40.0, 260.0, 200.0, "L1"),
        (1, 5, 1, 20.0, 40.0, 260.0, 200.0, "P2"),
        (1, 2, 0, 25.0, 540.0, 260.0, 200.0, "L3"),
        (1, 1, 0, 22.0, 290.0, 260.0, 200.0, "L2"),
        (1, 3, 0, 321.0, 310.0, 260.0, 200.0, "R2"),
    ]
    boxes = spark.createDataFrame(
        rows, "doc_id bigint, box_id bigint, page bigint, x double, y double, w double, h double, text string"
    )
    out = layout.linearize_layout(boxes).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pages == 2 and r.n_boxes == 6
    assert r.linearized == "L1\nL2\nL3\nR1\nR2\nP2"


def test_layout_column_clamp(spark):
    # x-center beyond the page width clamps into the last column
    col = layout.detect_column(F.lit(900.0), F.lit(260.0))
    v = spark.range(1).select(col.alias("c")).collect()[0].c
    assert v == 1
    col0 = layout.detect_column(F.lit(-50.0), F.lit(20.0))
    v0 = spark.range(1).select(col0.alias("c")).collect()[0].c
    assert v0 == 0


def test_layout_linearize_input_order_invariant(spark):
    """Reading order must come from geometry alone: scrambling the
    physical input order/partitioning cannot change the output."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    boxes = layout.synth_layout_boxes(d)
    scrambled = boxes.orderBy(F.md5(F.concat_ws("#", "doc_id", "text"))).repartition(7)
    a = {r.doc_id: r.linearized for r in layout.linearize_layout(boxes).collect()}
    b = {r.doc_id: r.linearized for r in layout.linearize_layout(scrambled).collect()}
    assert a == b


def test_jaccard_guard_equals_postfilter_semantics(spark):
    """The pre-collect df guard must produce EXACTLY the rows the
    documented semantics describe (drop shingles with df > max_df, then
    exact jaccard on the survivors) — checked against an independent
    pure-Python computation."""
    from tackle4losscontentextraction_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma theta iota kappa"),
        (4, "alpha beta gamma theta iota lam"),
        (5, "completely different words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, shingle_n=2, threshold=0.0, max_df=3).collect()
    }

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 2]) for i in range(len(w) - 1)}

    sh = {i: shingles(t) for i, t in rows}
    from collections import Counter

    df_count = Counter(s for v in sh.values() for s in v)
    hot = {s for s, c in df_count.items() if c > 3}
    want = {}
    for a in sh:
        for b in sh:
            if a < b:
                inter = (sh[a] & sh[b]) - hot
                if inter:
                    want[(a, b)] = round(len(inter) / (len(sh[a]) + len(sh[b]) - len(inter)), 6)
    assert got == want


def test_layout_synth_matches_operator_counts(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    boxes = layout.synth_layout_boxes(d)
    out = layout.linearize_layout(boxes)
    got = out.agg(F.sum("n_boxes").alias("nb"), F.count("*").alias("nd")).collect()[0]
    want = d.agg(F.sum(F.lit(8) + F.col("n_chars") % 7)).collect()[0][0]
    assert got.nd == 50 and got.nb == want


# ---------------------------------------------------------------------------
# Hamming-1 simhash
# ---------------------------------------------------------------------------


def test_simhash_h1_matches_bruteforce(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    sigs = {
        r.doc_id: r.sig
        for r in d.select("doc_id", dedup.simhash16(F.col("text")).alias("sig")).collect()
    }
    want = {
        (a, b)
        for a in sigs for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 1
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_h1_pairs(d).collect()
    }
    assert got == want, "pigeonhole banding must have perfect Hamming<=1 recall"


# ---------------------------------------------------------------------------
# null-aware update (matched marker)
# ---------------------------------------------------------------------------


def test_update_columns_null_value_is_written(spark):
    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "doc_id bigint, cluster_id bigint, name string",
    )
    upd = spark.createDataFrame(
        [(2, None), (99, 5)], "doc_id bigint, cluster_id bigint"
    )
    out = {r.doc_id: r for r in merge_ops.update_columns(target, upd).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].cluster_id is None, "matched NULL update must WRITE the NULL"
    assert out[2].name == "b"
    assert out[1].cluster_id == 10 and out[3].cluster_id == 30


# ---------------------------------------------------------------------------
# checkpointed iterative loops
# ---------------------------------------------------------------------------


def test_simhash_h1_max_bucket_guard(spark):
    from tackle4losscontentextraction_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "same words every time here") for i in range(6)],
        "doc_id bigint, text string",
    )
    # 6 identical sigs -> band buckets of 6; cap 3 drops them
    assert dedup.simhash_h1_pairs(docs, max_bucket=3).count() == 0
    assert dedup.simhash_h1_pairs(docs, max_bucket=None).count() == 15


def test_fallback_dedups_secondary_and_frame_nan_duration(spark):
    from tackle4losscontentextraction_spark.operators import multimodal
    from tackle4losscontentextraction_spark.sources import fallback

    span = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    primary = spark.createDataFrame([(1, None)], f"doc_id bigint, spans {span}")
    secondary = spark.createDataFrame(
        [(1, [("text", "fetch A", "", 0)]), (1, [("text", "fetch B", "", 0)])],
        f"doc_id bigint, spans {span}",
    )
    out = fallback.with_fallback(primary, secondary).collect()
    # several capture rows per key must yield exactly ONE output row,
    # chosen deterministically (lexicographically first)
    assert len(out) == 1 and out[0].spans[0].text == "fetch A"

    media = spark.createDataFrame(
        [("m1", "d1", "video", "video/mp4", 64, 64, None, b"x"),
         ("m2", "d2", "video", "video/mp4", 64, 64, 3000, b"y")],
        multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.sample_frames_batch(media, every_ms=1000).collect()
    # NULL duration (NaN in pandas) must not crash; only m2 yields frames
    assert {f.media_id for f in frames} == {"m2"} and len(frames) == 3


def test_kmeans_fit_plan_is_checkpoint_shallow(spark):
    from tackle4losscontentextraction_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    cents = similarity.kmeans_fit(e, k=2, iters=3)
    plan = cents._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert cents.count() <= 2


# ---------------------------------------------------------------------------
# fallback source combinator (S7 analog)
# ---------------------------------------------------------------------------


def test_with_fallback_routes_rows(spark):
    from tackle4losscontentextraction_spark.sources import fallback

    span = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    rows = [
        (1, [("text", "good content", "", 0)]),          # healthy
        (2, []),                                          # empty -> fallback
        (3, None),                                        # null  -> fallback, absent in secondary
        (4, [("text", "Extraction error: timeout", "", 0)]),  # error sentinel
    ]
    primary = spark.createDataFrame(rows, f"doc_id bigint, spans {span}")
    secondary = spark.createDataFrame(
        [(2, [("text", "refetched two", "", 0)]),
         (4, [("text", "refetched four", "", 0)]),
         (9, [("text", "unused", "", 0)])],
        f"doc_id bigint, spans {span}",
    )
    out = {r.doc_id: r for r in fallback.with_fallback(primary, secondary).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].source_used == "primary" and out[1].spans[0].text == "good content"
    assert out[2].source_used == "fallback" and out[2].spans[0].text == "refetched two"
    assert out[3].source_used == "primary_failed" and out[3].spans is None
    assert out[4].source_used == "fallback" and out[4].spans[0].text == "refetched four"


# ---------------------------------------------------------------------------
# deterministic UUIDs (C10)
# ---------------------------------------------------------------------------


def test_deterministic_uuid_rfc4122_shape_and_twin(spark):
    import re

    import pyoracle
    from tackle4losscontentextraction_spark.functions.ids import deterministic_uuid

    names = ["42#77", "a", "", "espn.com/nfl", "0#1"]
    df = spark.createDataFrame([(n,) for n in names], "n string").select(
        "n", deterministic_uuid(F.col("n")).alias("u")
    )
    pat = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")
    got = {r.n: r.u for r in df.collect()}
    assert len(set(got.values())) == len(names)  # distinct inputs -> distinct ids
    for n in names:
        assert pat.match(got[n]), got[n]
        assert got[n] == pyoracle.deterministic_uuid(n), n


# ---------------------------------------------------------------------------
# fsutil (Hadoop FileSystem API portability layer)
# ---------------------------------------------------------------------------


def test_fsutil_roundtrip(spark, tmp_path):
    from tackle4losscontentextraction_spark import fsutil

    p = str(tmp_path / "x" / "y")
    assert not fsutil.exists(spark, p)
    fsutil.mkdirs(spark, p)
    assert fsutil.is_dir(spark, p)
    spark.range(3).write.mode("overwrite").parquet(p + "/t")
    assert "t" in fsutil.list_names(spark, p)
    assert fsutil.delete_dir(spark, p)
    assert not fsutil.exists(spark, p)
    assert fsutil.list_names(spark, p) == []
    assert fsutil.delete_dir(spark, p) is False
