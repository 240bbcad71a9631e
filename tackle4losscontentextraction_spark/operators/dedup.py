"""Deduplication operators over a documents table — the training-data
pipeline extensions (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Scale notes (the whole point of each design):

- exact        : one hash-aggregate on a digest — map-side partial agg,
                 single shuffle on a 32-hex key, no skew (digests are
                 uniform).
- minhash LSH  : docs never self-join directly. shingle -> k md5-min
                 signatures (per-row, higher-order functions only) ->
                 band keys -> shuffle on band key -> pairs emerge only
                 within buckets. Candidate pairs are then verified with
                 exact Jaccard. At 100 TB the band-key shuffle is the
                 only wide op and its cardinality is O(docs x bands),
                 not O(docs^2).
- simhash      : 16-bit signature from per-token md5 nibble parity;
                 near-dups within Hamming-1 via 2x8-bit pigeonhole
                 banding (simhash_h1_pairs) — one shuffle on the band
                 key.
- ngram jaccard: exact pairwise within shingle-share buckets (posting-
                 list join), not a cross join.
- embedding    : cosine > threshold via LSH-free blocked self-join for
                 small N; at scale use similarity.ann_lsh instead.

MinHash uses md5-hex-string minima as the permutation surrogate: for a
uniform hash h, argmin over shingles of h(shingle||seed) is a valid
min-wise permutation sample; md5 is available and bit-identical in
Spark, DuckDB and Python, which makes the oracle exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..barrier import barrier as barrier_fn
from ..functions.colmemo import memo as _memo

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a whitespace-tokenized, lowercased text."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    sh = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(k > 0, F.array_distinct(sh)).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_key(text: Column) -> Column:
    """THE content digest both batch and streaming dedup key on:
    md5 of the lowercased, whitespace-normalized text. One definition
    (streaming/dedup_stream imports it) so the two paths can never
    silently disagree about what a duplicate is."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (lowercased, ws-normalized) texts.

    Returns (dup_key, n_docs, keeper) with keeper = min(id) per group —
    the canonical survivor. Single hash-agg; digests shuffle uniformly.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), exact_dup_key(F.col(text_col)).alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


def _md5_salted_fn(salt: str):
    """Closure factory: transform lambdas MUST be single-param (PySpark
    inspects the arity — a defaulted second param makes it pass the
    element index), so constants are bound here, not via defaults."""
    return lambda s: F.md5(F.concat(s, F.lit(salt)))


def _slice_fn(j: int):
    return lambda h: F.substring(h, j * 8 + 1, 8)


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded minhash.

    Docs sharing any full band of the signature collide in a bucket; the
    only shuffle is groupBy(band_key). Distinct pairs are returned for
    downstream exact-Jaccard verification.

    The md5 pass is materialized once as a column (one md5 per shingle
    per 4-hash group), then the cheap substring minima derive the
    signature — Catalyst cannot duplicate the expensive pass. md5's 32
    hex chars are four 8-hex chunks, each an independent 32-bit
    permutation sample, bit-identical in DuckDB
    (substr(md5(s || '#g'), 8k+1, 8)).
    """
    rows = num_hashes // bands
    groups = (num_hashes + 3) // 4
    # construction memos (functions/colmemo): these fragments reference
    # the input only by column name, so they are keyed by the plain
    # parameters that shape them and rebuilt at most once per process
    hcols = _memo(
        ("minhash_hcols", id_col, text_col, shingle_n, groups),
        lambda: [F.col(id_col).alias("doc_id")] + [
            F.transform(
                word_shingles(F.col(text_col), shingle_n), _md5_salted_fn("#%d" % g)
            ).alias(f"_h{g}")
            for g in range(groups)
        ],
    )
    hashed = docs.select(*hcols)
    sig = _memo(
        ("minhash_sig", num_hashes),
        lambda: F.array(*[
            F.array_min(F.transform(F.col(f"_h{k // 4}"), _slice_fn(k % 4)))
            for k in range(num_hashes)
        ]),
    )
    # barrier: materialize the md5 pass before the sig minima / band
    # structs / null-filter reference it (else Catalyst inlines the
    # full hash pass ~6x — see barrier.py)
    hashed = barrier_fn(hashed)
    with_sig = barrier_fn(hashed.select("doc_id", sig.alias("sig"))).where(
        _memo(("minhash_nullcheck",),
              lambda: ~F.exists(F.col("sig"), lambda x: x.isNull()))
    )
    band_cols = _memo(
        ("minhash_bands", bands, rows),
        lambda: [
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", *[F.col("sig")[b * rows + r] for r in range(rows)]).alias("key"),
            )
            for b in range(bands)
        ],
    )
    banded = with_sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # groupBy + in-bucket pair expansion instead of a self-join: the
    # signature lineage is computed ONCE and shuffled once (a self-join
    # would recompute the shingle+md5 pass for each side). Bucket sizes
    # are bounded by the LSH false-positive rate, so the per-bucket
    # quadratic expansion is small; a pathological hot bucket would be
    # a tuning signal (more rows per band), not an engine problem.
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    def _build_pair_arrays():
        a = F.col("ids")
        return F.flatten(
            F.transform(
                a,
                lambda x, i: F.transform(
                    F.slice(a, i + 2, F.greatest(F.size(a) - i - 1, F.lit(0))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )

    pair_arrays = _memo(("minhash_pair_arrays",), _build_pair_arrays)
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs that share >= 1 shingle.

    posting-list self-join: explode shingles, join on shingle, count
    intersections, then |A∪B| = |A|+|B|-|A∩B|. Never materializes the
    full cross product — only co-occurring pairs.

    Skew guard (``max_df``): a shingle present in k docs contributes k²
    join rows, and natural-language shingle frequencies are Zipfian —
    one hot shingle ("of the nfl") can dominate the whole job. Shingles
    with document frequency > max_df are dropped BEFORE the pairing
    (|A∩B| counts only discriminative shingles; |A| and |B| stay the
    full set sizes, so hot-shingle overlap deflates — never inflates —
    the similarity: a conservative estimate for dedup). This bounds
    per-key pair cardinality at max_df² and is what makes the operator
    safe at 100 TB. ``max_df=None`` restores exact Jaccard.

    Physical shape (the minhash bucket pattern): the posting list —
    (doc_id, n_sh) struct per shingle — shuffles ONCE, on the shingle,
    into buckets via groupBy + collect_set; a posting×posting self-join
    would shuffle the string postings twice and recompute the shingling
    lineage per side. Pairs are expanded in-bucket (bounded by max_df²)
    carrying both set sizes with them, so the pair aggregation is the
    ONLY other shuffle and no size-lookup join exists at all.

    The df guard is applied BEFORE the collect_set, not after:
    filtering after collect_set would first build the hot shingle's
    full posting array (millions of structs) in ONE aggregation buffer
    just to discard it — exactly the memory spike the guard exists to
    prevent. The df count is a window ``count(*) over (partition by
    shingle)`` over the SAME posting exchange the bucket aggregation
    consumes: the explicit ``repartition("shingle")`` satisfies both
    the window's and the groupBy's required distribution, so the plan
    is Exchange → Sort → Window → Filter → HashAggregate — the
    shingling lineage and the posting shuffle each run exactly once
    (a two-branch formulation — separate df aggregate + anti-join —
    computes the shingling twice, because column pruning specializes
    the df branch's subtree and defeats exchange reuse; measured ~2x).
    Memory: WindowExec buffers one shingle's rows in a spillable array
    (ExternalAppendOnlyUnsafeRowArray), so even a degenerate hot
    shingle spills to disk instead of OOMing the agg buffer — strictly
    safer than post-collect filtering, at the cost of the local sort.
    """
    # barrier: the shingle HOF tree feeds BOTH size() and explode();
    # Generate consumers get no expression CSE, so without forced
    # materialization the whole shingling pass is inlined twice
    sh = barrier_fn(docs.select(*_memo(
        ("jaccard_sh_cols", id_col, text_col, shingle_n),
        lambda: [
            F.col(id_col).alias("doc_id"),
            word_shingles(F.col(text_col), shingle_n).alias("shingles"),
        ],
    )))
    posting = sh.select(*_memo(
        ("jaccard_posting_cols",),
        lambda: [
            F.struct(F.col("doc_id"), F.size("shingles").alias("n_sh")).alias("m"),
            F.explode("shingles").alias("shingle"),
        ],
    ))
    if max_df is not None:
        # the ONE posting shuffle; the window df-count and the bucket
        # groupBy both run on this partitioning with no further exchange
        posting = posting.repartition("shingle")
        w = Window.partitionBy("shingle")
        posting = (
            posting.withColumn("df", F.count(F.lit(1)).over(w))
            .where(F.col("df") <= max_df)
            .drop("df")
        )
    buckets = posting.groupBy("shingle").agg(
        F.array_sort(F.collect_set("m")).alias("ms")
    )
    buckets = buckets.where(F.size("ms") > 1)
    def _build_pair_arrays():
        ms = F.col("ms")
        return F.flatten(
            F.transform(
                ms,
                lambda x, i: F.transform(
                    F.slice(ms, i + 2, F.greatest(F.size(ms) - i - 1, F.lit(0))),
                    lambda y: F.struct(
                        x["doc_id"].alias("id_a"), y["doc_id"].alias("id_b"),
                        x["n_sh"].alias("n_sh_a"), y["n_sh"].alias("n_sh_b"),
                    ),
                ),
            )
        )

    pair_arrays = _memo(("jaccard_pair_arrays",), _build_pair_arrays)
    inter = (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"),
            F.col("p.n_sh_a").alias("n_sh_a"), F.col("p.n_sh_b").alias("n_sh_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_inter"))
    return (
        inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash16(text: Column) -> Column:
    """16-bit SimHash from per-token md5 nibble parity.

    bit_j = majority over tokens of (low bit of hex nibble j of
    md5(token)). Bit-identical in DuckDB/Python (md5 + substring + mod).
    """
    tokens = F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))
    hashes = F.transform(tokens, lambda t: F.md5(t))

    def bit_sum(j: int) -> Column:
        # '0123456789abcdef' position of nibble j, low bit -> +-1 votes
        nib = F.transform(
            hashes,
            lambda h: (F.instr(F.lit("0123456789abcdef"), F.substring(h, j + 1, 1)) - 1) % 2,
        )
        return F.aggregate(nib, F.lit(0), lambda a, x: a + (x * 2 - 1))

    return sum(
        (F.when(bit_sum(j) > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)),
        F.lit(0),
    ).cast("int")


def simhash_h1_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs within Hamming distance 1 of the 16-bit simhash.

    Pigeonhole banding (the classic Hamming-LSH): split the signature
    into two 8-bit bands; two signatures within Hamming-1 differ in at
    most one band, so they MUST agree exactly on the other — every
    Hamming<=1 pair collides in at least one (band, band_value) bucket
    (no per-bit rotations needed: 2 keys per doc instead of 17).
    Candidates sharing only one band can be up to Hamming-8, so the
    exact ``bit_count(sig_a XOR sig_b) <= 1`` verify filters them —
    candidates only, never all pairs.

    Physical shape: the minhash bucket pattern — one shuffle on the
    band key, in-bucket pair expansion, distinct, then a per-row
    popcount. Returns (id_a, id_b, hamming).

    Skew guard (``max_bucket``): band buckets grow O(N/256), so the
    in-bucket quadratic expansion is unbounded in corpus size — the
    same Zipf problem as jaccard's hot shingles (a popular band value,
    e.g. the all-zero band from boilerplate, can hold millions of
    docs). Buckets larger than ``max_bucket`` are dropped BEFORE
    expansion, bounding the blowup at max_bucket² per key; recall is
    then perfect only among docs outside pathological buckets (a
    dropped mega-bucket is itself a dedup signal — its members are
    near-identical boilerplate better handled by exact dedup).
    ``max_bucket=None`` restores exhaustive recall for small corpora.
    """
    sigs = docs.select(
        F.col(id_col).alias("doc_id"), simhash16(F.col(text_col)).alias("sig")
    )
    band_cols = F.array(
        F.struct(F.lit(0).alias("band"), F.col("sig").bitwiseAND(F.lit(255)).alias("key")),
        F.struct(F.lit(1).alias("band"), F.shiftright("sig", 8).alias("key")),
    )
    banded = sigs.select(
        F.struct("doc_id", "sig").alias("m"), F.explode(band_cols).alias("bk")
    ).select("m", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_set("m")).alias("ms"))
        .where(F.size("ms") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("ms") <= max_bucket)
    ms = F.col("ms")
    pair_arrays = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"), y["doc_id"].alias("id_b"),
                    x["sig"].alias("sig_a"), y["sig"].alias("sig_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b", "p.sig_a", "p.sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))
        .where(F.col("hamming") <= 1)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (LSH-bucketed candidates + exact verify)
# ---------------------------------------------------------------------------


def _sign_band_key(vec: Column, band: int, band_bits: int) -> Column:
    """band_bits sign bits of dims [band*band_bits, ...) packed into an int.

    Signs are invariant under L2 normalization, so the key is computed
    on the raw vector — no normalize needed before bucketing."""
    return sum(
        (
            F.when(F.get(vec, band * band_bits + j) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(band_bits)
        ),
        F.lit(0),
    ).cast("int")


def embedding_near_duplicates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    bands: int = 8,
    band_bits: int = 4,
) -> DataFrame:
    """Pairs with cosine >= threshold: sign-LSH candidates, exact verify.

    Default path (the 100 TB-safe one):
      1. each vector emits ``bands`` (band, sign-bit-key) rows — a pure
         projection, signs taken straight off the raw embedding;
      2. one shuffle on (band, key); in-bucket pair expansion via
         groupBy + collect (the minhash pattern — the vector lineage is
         never recomputed by a self-join);
      3. distinct candidate pairs are verified with the exact
         normalized dot; only candidates ever pay the O(dim) cosine.

    Two vectors collide when ANY band's sign pattern matches (OR-
    amplification): P(collide) = 1-(1-p^band_bits)^bands with
    p = 1 - θ/π, so high-cosine pairs are found with near-certainty
    while the expected bucket size stays N/(2^band_bits) per band —
    tune band_bits up as N grows. This is approximate by construction
    (like every ANN near-dup at scale); the driver oracle mirrors the
    same bucketing so parity is exact.

    ``method="brute"`` keeps the exact all-pairs cross join for small,
    explicitly-opted-in inputs (it is O(N²) — never the default).
    """
    from ..functions import vectors as vec_fn

    normed = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("raw"),
        vec_fn.l2_normalize(F.col(vec_col).cast("array<double>")).alias("v"),
    )
    sim = vec_fn.dot(F.col("v"), F.col("v_b"))

    if method == "brute":
        other = normed.select(F.col("vid").alias("vid_b"), F.col("v").alias("v_b"))
        return (
            normed.crossJoin(other)
            .where(F.col("vid") < F.col("vid_b"))
            .select(
                F.col("vid").alias("id_a"),
                F.col("vid_b").alias("id_b"),
                F.round(sim, 6).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )

    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"), _sign_band_key(F.col("raw"), b, band_bits).alias("key"))
        for b in range(bands)
    ])
    banded = normed.select("vid", F.explode(band_structs).alias("bk")).select(
        "vid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_set("vid")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pair_arrays = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    va = normed.select(F.col("vid").alias("id_a"), F.col("v").alias("v"))
    vb = normed.select(F.col("vid").alias("id_b"), F.col("v").alias("v_b"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# survivorship: connected components over the candidate-pair graph
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(node, comp) for every node in the pair graph, comp = the
    SMALLEST id reachable from it — the union-find closure the keep
    rule needs (a per-pair drop-the-max rule keeps >1 survivor in any
    component whose max-free nodes exceed one, e.g. {(1,3),(2,3)}).

    Min-label propagation: labels start as self, each pass takes the
    min over neighbors, until a fixpoint (checkpointed per pass so the
    plan stays flat).  Scale note: dup components are SMALL by
    construction — every candidate generator caps its bucket fan-out
    (minhash/jaccard df-guards, simhash pigeonhole, sign-LSH bucket
    cap), so component diameter (= pass count) is bounded and each
    pass is one shuffle of the edge list; this is the standard
    iterate-until-converged CC on the pair graph, not on the corpus.
    Raises if max_iters passes don't converge (pathological chain)."""
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.withColumnRenamed("node", "dst")
                       .withColumnRenamed("comp", "dst_comp"), "dst")
            .groupBy("src").agg(F.min("dst_comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min.withColumnRenamed("src", "node"), "node", "left")
            .select(
                "node",
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} passes"
    )


def keep_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Deduplicated corpus: exactly ONE survivor per connected
    component of the pair graph — the smallest id (deterministic,
    replay-stable) — and every unpaired doc kept untouched."""
    comps = connected_components(pairs, id_a=id_a, id_b=id_b)
    drop = comps.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col))
    return docs.join(drop, id_col, "left_anti")
