"""Regression tests for the round-8 advisor findings (ADVICE.md r8).

Finding #1 (zero-fill pre-filter extent + single-scan plan) is pinned
in test_golden_runner_timeseries.py (testTimeseriesWithFilterOn
NonExistentDimension) and test_plan_shapes.py; this file pins the four
low-severity findings: ROUND long typing, PARSE_LONG radix edges,
compound-period DST flooring, and array_contains needle typing.
"""

from __future__ import annotations

from datetime import datetime, timezone
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.sql.dialect import druid_sql


@pytest.fixture(scope="module")
def reg(spark):
    r = DatasourceRegistry(spark)
    df = spark.range(4).select(
        F.col("id").alias("lcol"),
        (F.col("id") * 3.7).alias("dcol"),
        F.lit("2024-01-01").cast("timestamp").alias("__time"))
    r.register("advt", df)
    return r


def test_round_preserves_long_typing(spark, reg):
    # ADVICE r8 #2: ROUND over a LONG column returns LONG (Function.
    # Round keeps the input type); the NaN/Infinity wrapper only
    # applies to non-integral inputs
    out = druid_sql(spark, """
        SELECT ROUND(lcol) AS rl, ROUND(lcol, 1) AS rl1,
               ROUND(dcol, 1) AS rd
        FROM advt ORDER BY lcol
    """, reg)
    types = dict((f.name, f.dataType.simpleString())
                 for f in out.schema.fields)
    assert types["rl"] == "bigint" and types["rl1"] == "bigint"
    assert types["rd"] == "double"
    rows = out.collect()
    assert [r["rl"] for r in rows] == [0, 1, 2, 3]
    assert rows[3]["rd"] == 11.1
    # the double-path NaN/Infinity contract is untouched
    edge = druid_sql(spark, """
        SELECT ROUND(CAST('NaN' AS DOUBLE)) AS n,
               ROUND(CAST('Infinity' AS DOUBLE)) AS p
        FROM advt LIMIT 1
    """, reg).collect()[0]
    assert edge["n"] == 0.0 and edge["p"] == 1.7976931348623157e308


def test_parse_long_radix_edge_contract(spark, reg):
    # ADVICE r8 #3: Long.parseLong semantics — digit-free, partially
    # valid, and out-of-alphabet input are NULL; negatives are signed;
    # unsigned-overflow hex is NULL, not a wrapped positive
    out = druid_sql(spark, """
        SELECT PARSE_LONG('ff', 16) AS a, PARSE_LONG('0xFF', 16) AS b,
               PARSE_LONG('-10', 16) AS c, PARSE_LONG('1x', 16) AS d,
               PARSE_LONG('zz', 16) AS e, PARSE_LONG('', 16) AS f,
               PARSE_LONG('+7f', 16) AS g,
               PARSE_LONG('ffffffffffffffff', 16) AS h,
               PARSE_LONG('101', 2) AS i, PARSE_LONG('-', 10) AS j
        FROM advt LIMIT 1
    """, reg).collect()[0]
    assert tuple(out) == (255, 255, -16, None, None, None, 127,
                          None, 5, None)


def test_compound_period_day_component_dst_wall_floor(spark):
    # ADVICE r8 #4: P1DT1H under a DST timezone floors in the WALL
    # frame (Joda's imprecise days field routes the reference through
    # truncateCompoundPeriod); under UTC the plain modular path stays
    from apache_druid_spark.model.granularity import time_floor_col

    t = datetime(2021, 7, 1, 12, 0, 0)  # UTC instant (LA is UTC-7)
    df = spark.createDataFrame([(t,)], "ts timestamp")
    la = df.select(time_floor_col(
        "ts", {"type": "period", "period": "P1DT1H",
                      "timeZone": "America/Los_Angeles"}).alias("b")
    ).collect()[0]["b"]
    # expected: floor the LA wall clock to 25h boundaries from wall
    # epoch 0, then convert back at the boundary's offset
    wall = t.replace(tzinfo=timezone.utc).astimezone(
        ZoneInfo("America/Los_Angeles")).replace(tzinfo=None)
    wall_ms = int(wall.replace(tzinfo=timezone.utc).timestamp() * 1000)
    b_wall_ms = wall_ms - (wall_ms % 90_000_000)
    b_wall = datetime.fromtimestamp(b_wall_ms / 1000, tz=timezone.utc) \
        .replace(tzinfo=None)
    expect = b_wall.replace(
        tzinfo=ZoneInfo("America/Los_Angeles")).astimezone(
        timezone.utc).replace(tzinfo=None)
    assert la == expect
    # UTC path unchanged: plain 25h modular on the instant
    utc = df.select(time_floor_col(
        "ts", {"type": "period", "period": "P1DT1H"}).alias("b")
    ).collect()[0]["b"]
    ms = int(t.replace(tzinfo=timezone.utc).timestamp() * 1000)
    assert utc == datetime.fromtimestamp(
        (ms - ms % 90_000_000) / 1000, tz=timezone.utc
    ).replace(tzinfo=None)


def test_array_contains_needle_type_resolution(spark):
    # ADVICE r8 #5: an array needle is contains-ALL, a scalar one (even
    # a string spelling "array(") is a single element — the dialect's
    # ARRAY_CONTAINS rule reads the needle's SQL text
    from apache_druid_spark.operators.expressions import (
        compile_expression, expression_sql,
    )

    assert "forall" in expression_sql("array_contains(b, array(3, 4))")
    assert "forall" not in expression_sql("array_contains(b, 3)")
    assert "forall" not in expression_sql("array_contains(b, 'array(x')")
    df = spark.createDataFrame([([1, 2, 3, 4],)], "b array<bigint>")
    got = df.select(
        compile_expression("array_contains(\"b\", [3, 4])").alias("x"),
        compile_expression("array_contains(\"b\", [3, 9])").alias("y"),
        compile_expression("array_contains(\"b\", 3)").alias("z"),
    ).collect()[0]
    assert (got["x"], got["y"], got["z"]) == (True, False, True)
