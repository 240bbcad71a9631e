"""Extraction-stage metrics (the Spark restatement of the success/fail
tally of scripts/cleanup_pipeline.py — SURVEY §3.1).

The pipeline itself is composed in ``jobs/run_pipeline.py`` (and the
extraction-only ``jobs/run_extraction.py``):

    docs(doc_id, url, lang, spans)              [scan]
      -> extraction.extract                     [per-row projection]
      -> write extracted parquet (bucketed)     [resume via lineage]
      -> metrics aggregate                      [A7: :func:`metrics`, or
                                                 an Observation of
                                                 :data:`METRICS_SQL`]

The reference's batched variant (cleanup_pipeline_batched.py) dissolves
into bucket partitioning; its success/fail tally is the metrics agg;
its per-article commit is the per-bucket lineage publish."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# A7 analog: empty/error/span tallies, as SQL aggregate text so the
# same expressions serve :func:`metrics` and an Observation
# (jobs/run_pipeline.py counts them on its doc MERGE's source pass)
METRICS_SQL = [
    "count(*) AS n_docs",
    "sum(CASE WHEN error THEN 1 ELSE 0 END) AS n_errors",
    "sum(CASE WHEN title = '' THEN 1 ELSE 0 END) AS n_empty_titles",
    "sum(CASE WHEN publication_date = '' THEN 1 ELSE 0 END) AS n_empty_dates",
    "sum(CASE WHEN content_chars = 0 THEN 1 ELSE 0 END) AS n_empty_contents",
    "sum(spans_in) AS spans_in",
    "sum(spans_kept) AS spans_kept",
]


def metric_columns() -> list:
    """The A7 tally as aggregate Columns (for ``agg`` or ``observe``)."""
    return [F.expr(e) for e in METRICS_SQL]


def metrics(extracted: DataFrame) -> DataFrame:
    """A7 analog: empty/error/span tallies (one hash agg)."""
    return extracted.agg(*metric_columns())
