"""Driver-built results: ``local_relation`` returns a JVM-local relation
whose values equal the input exactly; ``materialize_result`` keeps its
row ceiling."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from mk_kafka_connect_spark.plans.materialize import local_relation, materialize_result

_SCHEMA = (
    "d decimal(38,18), ts timestamp, ntz timestamp_ntz, day date,"
    " arr array<int>, m map<string,int>, s struct<x: int, y: string>,"
    " n void, bin binary, flag boolean, txt string, big long, f double"
)

_ROWS = [
    (
        Decimal("12345678901234567890.123456789012345678"),
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.date(1, 1, 1),
        [1, None, -3],
        {"k": 1, "z": None},
        (7, "seven"),
        None,
        b"\x00\xffbin",
        True,
        "žluťoučký",
        -(2**63),
        0.1 + 0.2,
    ),
    (None,) * 13,
]

_SQL = """
SELECT CAST('-0.000000000000000001' AS DECIMAL(38,18)) AS d,
       TIMESTAMP '2024-03-10 02:30:00.123456' AS ts,
       TIMESTAMP_NTZ '9999-12-31 23:59:59.999999' AS ntz,
       DATE '2024-02-29' AS day,
       array(1, NULL, 3) AS arr,
       map('a', 1, 'b', CAST(NULL AS INT)) AS m,
       named_struct('x', 1, 'y', CAST(NULL AS STRING)) AS s,
       NULL AS n,
       X'00FF10' AS bin,
       false AS flag,
       CAST(NULL AS STRING) AS txt,
       9223372036854775807 AS big,
       CAST('NaN' AS DOUBLE) AS f
UNION ALL
SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, '', 0, -0.0
"""


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_local_relation_round_trips_every_type(spark):
    got = local_relation(spark, _ROWS, _SCHEMA)
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    _assert_local(got)


def test_zero_rows(spark):
    empty = local_relation(spark, [], "a long, b string")
    assert empty.collect() == []
    assert empty.columns == ["a", "b"]
    _assert_local(empty)
    src = spark.sql(_SQL).limit(0)
    copy = materialize_result(spark, src)
    assert copy.collect() == []
    assert copy.schema.simpleString() == src.schema.simpleString()


def test_materialize_result_raises_past_ceiling(spark):
    assert materialize_result(spark, spark.range(10), ceiling=10).count() == 10
    with pytest.raises(ValueError, match="10-row"):
        materialize_result(spark, spark.range(11), ceiling=10)
