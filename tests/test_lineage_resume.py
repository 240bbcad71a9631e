"""Resume-from-lineage semantics: a second run must skip completed
buckets (north rule: killed job resumes without reprocessing)."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tackle4losscontentextraction_spark.operators import extraction
from tackle4losscontentextraction_spark.sources import lineage, synth


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="t4l_lineage_")
    yield f"{d}/out", f"{d}/lineage"
    shutil.rmtree(d, ignore_errors=True)


def test_resume_skips_done_buckets(spark, tmpdirs):
    out_dir, lin_dir = tmpdirs
    docs = synth.synth_docs(spark, 200, partitions=4)

    r1 = lineage.run_with_resume(
        spark, docs, extraction.extract, out_dir, lin_dir, n_buckets=4
    )
    assert sorted(r1["processed"]) == [0, 1, 2, 3]
    assert r1["rows"] == 200

    r2 = lineage.run_with_resume(
        spark, docs, extraction.extract, out_dir, lin_dir, n_buckets=4
    )
    assert r2["processed"] == []
    assert sorted(r2["skipped"]) == [0, 1, 2, 3]

    total = spark.read.parquet(out_dir).count()
    assert total == 200


def test_partial_failure_resume(spark, tmpdirs):
    """Simulate a kill after 2 buckets: only the remaining 2 run."""
    out_dir, lin_dir = tmpdirs
    docs = synth.synth_docs(spark, 120, partitions=4)
    bucketed = lineage.with_bucket(docs, "doc_id", 4)

    # manually 'complete' buckets 0 and 1 (as a killed job would have):
    # their data, then the lineage manifest that publishes them
    done = {}
    for b in (0, 1):
        part = extraction.extract(bucketed.where(F.col("bucket") == b))
        part.write.mode("overwrite").parquet(f"{out_dir}/bucket={b}")
        done[str(b)] = spark.read.parquet(f"{out_dir}/bucket={b}").count()
    assert lineage.manifests(lin_dir).publish(spark, 0, json.dumps(
        {"buckets": done, "schema_json": part.schema.json()}))

    r = lineage.run_with_resume(
        spark, docs, extraction.extract, out_dir, lin_dir, n_buckets=4
    )
    assert sorted(r["processed"]) == [2, 3]
    assert spark.read.parquet(out_dir).count() == 120

    # every doc exactly once (no reprocessing duplicates)
    ids = spark.read.parquet(out_dir).select("doc_id")
    assert ids.distinct().count() == 120


def test_resume_clears_stale_partial_bucket(spark, tmpdirs):
    """A crashed attempt's garbage in a pending bucket dir must not
    survive resume — even when the new run emits 0 rows for it."""
    out_dir, lin_dir = tmpdirs
    docs = synth.synth_docs(spark, 80, partitions=2)

    # fake a crashed attempt: garbage parquet in bucket 1, NO lineage row
    spark.range(5).selectExpr("cast(id as string) as doc_id").write.parquet(
        f"{out_dir}/bucket=1"
    )

    def drop_bucket1(df):
        # transform that yields nothing for bucket 1
        return extraction.extract(df.where(F.col("bucket") != 1))

    r = lineage.run_with_resume(
        spark, docs, drop_bucket1, out_dir, lin_dir, n_buckets=4
    )
    assert sorted(r["processed"]) == [0, 1, 2, 3]
    got = spark.read.parquet(out_dir)
    # garbage gone; bucket 1 contributes zero rows, others complete
    assert got.where(F.col("bucket") == 1).count() == 0
    assert got.count() == r["rows"]


def test_resume_write_is_slot_sized_and_its_schema_reads_without_a_job(spark, tmpdirs):
    """The bucketed write runs at most one task per slot, still one
    file per bucket; the returned schema reads the output (as
    jobs/run_pipeline.py reads extracted/) without starting a
    schema-inference job, and equals the inferred schema field for
    field. The lineage bookkeeping starts no Spark job: a fresh run
    starts only its write's jobs, a resumed run none."""
    import glob

    from planutil import spark_jobs, stage_tasks

    out_dir, lin_dir = tmpdirs
    slots = spark.sparkContext.defaultParallelism
    docs = synth.synth_docs(spark, 400, partitions=slots)
    res, jobs = spark_jobs(spark, lambda: lineage.run_with_resume(
        spark, docs, extraction.extract, out_dir, lin_dir, n_buckets=16))
    assert len(res["processed"]) == 16 and res["rows"] == 400
    # only the data write's jobs (its shuffle's map stage, then the
    # write): finding the pending buckets and publishing the lineage
    # run no Spark job
    assert len(jobs) <= 2
    # the input has one partition per slot, so every stage of the run
    # (the extraction, the bucketed write) fits
    assert max(n for j in jobs for n in stage_tasks(spark, j)) <= slots
    for b in range(16):
        assert len(glob.glob(f"{out_dir}/bucket={b}/part-*.parquet")) == 1, b

    got, jobs = spark_jobs(spark, lambda: spark.read.schema(res["schema"]).parquet(out_dir))
    assert jobs == []
    assert got.schema == spark.read.parquet(out_dir).schema
    assert got.count() == 400

    # nothing pending: the schema comes from the lineage manifest, and
    # it reads the output without a job too
    again, jobs = spark_jobs(spark, lambda: lineage.run_with_resume(
        spark, docs, extraction.extract, out_dir, lin_dir, n_buckets=16))
    assert jobs == []
    assert again["processed"] == [] and again["schema"] == res["schema"]
    got, jobs = spark_jobs(spark, lambda: spark.read.schema(again["schema"]).parquet(out_dir))
    assert jobs == []
    assert got.schema == spark.read.parquet(out_dir).schema
