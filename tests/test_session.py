"""The jobs' session sizes Spark's generated-code cache to the composed
job: a second run of jobs/run_pipeline.py in the same driver process
(as a warm job server runs it) does not compile the job's generated
Java sources again. It also pins the session time zone to UTC, so a
job's output does not depend on the host's zone."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from planutil import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs the job twice in one interpreter via runpy with SparkSession.stop
# patched out, and prints the Janino compilations each run added
_TWICE = r"""
import json, runpy, sys
from pyspark.sql import SparkSession

SparkSession.stop = lambda self: None
inp, work = sys.argv[1:3]

def compiled():
    s = SparkSession.getActiveSession()
    if s is None:
        return 0
    metrics = s._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()

added = []
for i in range(2):
    before = compiled()
    sys.argv = ["jobs/run_pipeline.py", "--input", inp, "--workdir",
                f"{work}/wd{i}", "--spans", "--cluster"]
    try:
        runpy.run_path("jobs/run_pipeline.py", run_name="__main__")
    except SystemExit as e:
        assert e.code in (0, None), e.code
    added.append(compiled() - before)
print("COMPILED " + json.dumps(added))
print("CACHE " + SparkSession.getActiveSession().conf.get(
    "spark.sql.codegen.cache.maxEntries"))
"""


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_repeated_pipeline_job_compiles_nothing(tmp_path, spark):
    from tackle4losscontentextraction_spark import session
    from tackle4losscontentextraction_spark.sources import synth

    spans_in = str(tmp_path / "spans_in")
    synth.docs_from_documents(
        spark.read.parquet(f"{SF}/documents.parquet")).limit(60).write.parquet(spans_in)

    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=(
        "--master local[2] --conf spark.sql.shuffle.partitions=4 "
        "--conf spark.driver.memory=2g --conf spark.ui.enabled=false pyspark-shell"))
    proc = subprocess.run(
        [sys.executable, "-c", _TWICE, spans_in, str(tmp_path / "work")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    (line,) = [l for l in proc.stdout.splitlines() if l.startswith("COMPILED ")]
    first, second = json.loads(line[len("COMPILED "):])
    (line,) = [l for l in proc.stdout.splitlines() if l.startswith("CACHE ")]
    cache = int(line[len("CACHE "):])
    # the first run compiles its working set (~70 sources on 2 cores);
    # the job's session sizes the cache to hold it. A counter that read
    # 0 would pass the last check vacuously: each of the job's five
    # stages (extraction write, metrics, document MERGE, vector MERGE,
    # clustering) compiles at least one source. What a warm cache still
    # compiles are plan variants: AQE re-plans as stages finish, so a
    # different finishing order can number whole-stage codegen stages
    # differently or propagate an empty relation (0-6 new sources a run
    # on 2-4 cores)
    assert cache == session.CODEGEN_CACHE_MAX_ENTRIES
    assert 5 <= first <= cache
    assert second <= first // 10


def test_job_session_pins_utc_over_the_host_zone(spark):
    """A job's output does not depend on the host's time zone: the job
    session sets UTC even over a session whose zone came from a
    non-UTC JVM default, so a zone-less publication date is stored as
    UTC midnight."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from tackle4losscontentextraction_spark import session
    from tackle4losscontentextraction_spark.operators import extraction

    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "America/New_York")
    try:
        job = session.job_session("t4l-tz")
        assert job.conf.get(conf) == "UTC"
        docs = job.createDataFrame(
            [Row(doc_id="d0", url="https://x.com/a", lang="en", spans=[
                Row(kind="headline", text="A headline", media_ref="", offset=0),
                Row(kind="time", text="May 14, 2025", media_ref="", offset=1),
            ])],
            "doc_id string, url string, lang string, "
            "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
        (row,) = extraction.extract(docs).select(
            "publication_date",
            F.unix_timestamp("cleaned_date").alias("epoch_s")).collect()
        assert row.publication_date == "May 14, 2025"
        # 2025-05-14 00:00 UTC; America/New_York would read 04:00 UTC
        assert row.epoch_s == 1747180800
    finally:
        spark.conf.set(conf, before)
