"""Extraction-stage metrics (the Spark restatement of the success/fail
tally of scripts/cleanup_pipeline.py — SURVEY §3.1).

The pipeline itself is composed in ``jobs/run_pipeline.py`` (and the
extraction-only ``jobs/run_extraction.py``):

    docs(doc_id, url, lang, spans)              [scan]
      -> extraction.extract                     [per-row projection]
      -> write extracted parquet (bucketed)     [resume via lineage]
      -> metrics aggregate                      [A7: :func:`metrics`]

The reference's batched variant (cleanup_pipeline_batched.py) dissolves
into bucket partitioning; its success/fail tally is the metrics agg;
its per-article commit is the per-bucket lineage publish."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def metrics(extracted: DataFrame) -> DataFrame:
    """A7 analog: empty/error/span tallies (one hash agg)."""
    return extracted.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error"), 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("title") == "", 1).otherwise(0)).alias("n_empty_titles"),
        F.sum(F.when(F.col("publication_date") == "", 1).otherwise(0)).alias("n_empty_dates"),
        F.sum(F.when(F.col("content_chars") == 0, 1).otherwise(0)).alias("n_empty_contents"),
        F.sum("spans_in").alias("spans_in"),
        F.sum("spans_kept").alias("spans_kept"),
    )
