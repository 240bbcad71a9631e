"""fsutil.local_frame: small driver-side row lists as JVM-local plans
(no PythonRDD, so no Python-worker stage), equal to what
spark.createDataFrame builds from the same rows and schema."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import types as T

from tackle4losscontentextraction_spark import fsutil

SCHEMA = (
    "a int, b bigint, c string, d double, e array<double>, "
    "f struct<x:int,y:string>, g boolean, "
    "h array<struct<k:string,v:int>>, dt date, "
    "dec decimal(10,2)"
)
ROWS = [
    (1, 2**40, "x", 1.5, [1.0, None, -0.0], (3, "s"), True,
     [("a", 1), ("b", None)], datetime.date(2020, 1, 2),
     decimal.Decimal("1.25")),
    (None,) * 10,
    (-3, 0, "", 1e-300, [], (5, None), False, [], None,
     decimal.Decimal("0")),
]


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("rows", [ROWS, ROWS[:1], []], ids=["rows", "one", "empty"])
def test_local_frame_equals_create_dataframe(spark, rows):
    got = fsutil.local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_accepts_struct_type(spark):
    schema = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
    ])
    got = fsutil.local_frame(spark, [(2, 7), (3, None)], schema)
    assert got.schema == schema
    assert [tuple(r) for r in got.collect()] == [(2, 7), (3, None)]
    assert fsutil.local_frame(spark, [], schema).schema == schema


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_starts_no_python_worker(spark, rows):
    got = fsutil.local_frame(spark, rows, SCHEMA)
    for text in (_rdd_lineage(got), _physical(got)):
        assert "PythonRDD" not in text and "ExistingRDD" not in text, text
    # the check can fail: createDataFrame's plan has both
    want = spark.createDataFrame(ROWS, SCHEMA)
    assert "PythonRDD" in _rdd_lineage(want)
    assert "ExistingRDD" in _physical(want)
