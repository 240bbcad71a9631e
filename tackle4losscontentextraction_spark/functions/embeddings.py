"""Deterministic hashed text embeddings (L4 rebuild target).

The reference calls text-embedding-3-small (1536-d) and L2-normalizes
(create_embeddings.py:73-115). The deterministic stand-in preserves the
shape — fixed-dim, L2-normalized float vector — via feature hashing:

    for each distinct token t:
        h       = md5(t)
        bucket  = first md5 hex chunk   mod dim
        sign    = parity of another hex nibble (+1 / -1)
        v[bucket] += sign
    v <- v / ||v||   (zero vector unchanged)

Everything is md5/substr/mod arithmetic — bit-identical in DuckDB and
plain Python, so the embedding operator itself sits under the oracle
correctness gate (rare for an 'ML' stage). JVM-side only, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import pyworker
from . import vectors as vec_fn

DEFAULT_DIM = 64


def _bucket(h: Column, dim: int) -> Column:
    # first 8 hex chars -> int via conv; conv returns string -> bigint
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(dim))


def _sign(h: Column) -> Column:
    # low bit of the 9th nibble: +1 / -1
    return (
        F.pmod(F.instr(F.lit("0123456789abcdef"), F.substring(h, 9, 1)) - 1, F.lit(2)) * 2 - 1
    ).cast("double")


def hash_embed(text: Column, dim: int = DEFAULT_DIM) -> Column:
    """array<double> hashed-token embedding, L2-normalized.

    Single fold over the token list with a dim-long array accumulator:
    md5 runs ONCE per token.  (The first version transposed the loops —
    transform over positions, aggregate over tokens inside — which
    re-evaluated the md5 contribution list per position, dim×, and
    worse, inlined the INPUT expression dim× too: hash_embed over a
    derived column like main_content(extracted) ballooned from seconds
    to unbounded.  Values are unchanged: per bucket the signs still
    add in token order, and ±1.0 sums are exact in doubles.)"""
    tokens = F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))
    hashes = F.transform(tokens, lambda t: F.md5(t))
    contribs = F.transform(
        hashes, lambda h: F.struct(_bucket(h, dim).alias("b"), _sign(h).alias("s"))
    )
    vec = F.aggregate(
        contribs,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, c: F.transform(
            acc, lambda v, j: v + F.when(c["b"] == j.cast("bigint"), c["s"]).otherwise(F.lit(0.0))
        ),
    )
    return vec_fn.l2_normalize(vec)


def embed_documents(docs: DataFrame, text_col: str = "text", dim: int = DEFAULT_DIM) -> DataFrame:
    return docs.withColumn("embedding", hash_embed(F.col(text_col), dim))


def embed_select_arrow(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """(id_col, embedding) via mapInArrow — the throughput twin of
    :func:`hash_embed` for pipeline use (r6).

    The Catalyst fold is O(tokens x dim) interpreted expression ops per
    row (each token rebuilds the dim-long accumulator array) — measured
    as the dominant cost of the composed pipeline's embed stage. Here
    each token costs one (memoized) md5 + one array update, and the
    result is BIT-IDENTICAL to hash_embed: the +-1.0 bucket sums are
    exact in doubles so fold order is irrelevant, the squared-sum for
    the norm accumulates in the same index order, and tokenization
    mirrors the JVM exactly — trim strips ' ' only (Spark trim), the
    split pattern is Java's ASCII \\s class, and distinct-ness is set
    membership. ``tests/test_embeddings_arrow.py`` pins the equality.

    The ORACLE-GATED q_hash_embeddings query keeps the pure-Catalyst
    path (its plan pin forbids Python workers); this twin is for jobs
    that own their Python boundary, like jobs/run_pipeline.py.
    """
    import hashlib
    import math
    import re
    from collections.abc import Iterator

    import pyarrow as pa

    split_ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, ASCII-only
    id_type = [f for f in docs.schema.fields if f.name == id_col][0].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.drop_spark_zip_importers()
        memo: dict[str, tuple[int, float]] = {}

        def contrib(tok: str) -> tuple[int, float]:
            try:
                return memo[tok]
            except KeyError:
                h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                b = int(h[:8], 16) % dim
                s = 1.0 if (int(h[8], 16) % 2) else -1.0
                if len(memo) > 1 << 16:
                    memo.clear()
                memo[tok] = (b, s)
                return (b, s)

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            out: list[list[float] | None] = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                v = [0.0] * dim
                for tok in set(split_ws.split(t.strip(" ").lower())):
                    b, s = contrib(tok)
                    v[b] += s
                sq = 0.0
                for x in v:
                    sq += x * x
                n = math.sqrt(sq)
                if n != 0.0:
                    v = [x / n for x in v]
                out.append(v)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, pa.list_(pa.float64()))],
                names=[id_col, "embedding"],
            )

    return docs.select(id_col, text_col).mapInArrow(
        fn, schema=f"{id_col} {id_type}, embedding array<double>"
    )
