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


def test_local_frame_nonfinite_doubles(spark):
    got = fsutil.local_frame(
        spark, [(float("nan"), float("inf")), (float("-inf"), -0.0)], "a double, b double")
    want = spark.createDataFrame([(float("nan"), float("inf")), (float("-inf"), -0.0)],
                                 "a double, b double")
    assert repr(got.collect()) == repr(want.collect())


@pytest.mark.parametrize("ddl,value", [
    ("a float", 1.5), ("a timestamp", datetime.datetime(2020, 1, 2, 3, 4, 5)),
    ("a binary", b"x"), ("a map<string,int>", {"k": 1}),
    ("a array<float>", [1.5]),
    ("a struct<t:timestamp>", (datetime.datetime(2020, 1, 2),)),
])
def test_local_frame_refuses_types_json_cannot_carry_exactly(spark, ddl, value):
    with pytest.raises(TypeError, match="cannot carry"):
        fsutil.local_frame(spark, [(value,)], ddl)


@pytest.mark.parametrize("rows", [[], [(None, None, None)]], ids=["empty", "nulls"])
def test_local_frame_nulls_of_any_type(spark, rows):
    """NULL carries exactly whatever the type, so an empty or all-NULL
    frame of a type JSON cannot carry (an emptied table's schema) works."""
    ddl = "t timestamp, b binary, m map<string,int>"
    got = fsutil.local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_value_that_does_not_fit_fails(spark):
    # PERMISSIVE parsing would turn it into a NULL without a word
    with pytest.raises(Exception):
        fsutil.local_frame(spark, [(2**40,)], "a int").collect()


def test_local_frame_py4j_calls_do_not_grow_with_rows(spark):
    """One JSON literal carries every row: a 48-row frame (the lineage
    publish of 16 buckets) costs the py4j calls of a 1-row frame."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    def cost(n):
        calls.clear()
        client.send_command = counted
        try:
            fsutil.local_frame(spark, [(b, b * 10, "done") for b in range(n)],
                               "bucket int, n_rows bigint, status string")
        finally:
            client.send_command = send
        return len(calls)

    assert cost(48) == cost(1) <= 30
