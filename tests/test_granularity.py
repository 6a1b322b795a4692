"""Granularity edge cases: origins, timezone shifts, week alignment,
fixed-millis buckets — PeriodGranularity.java truncate parity."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.granularity import (
    bucket_sql, granularity_sql, shift_sql,
)


def _floor(spark, ts: str, gran, tz=None) -> datetime:
    df = spark.createDataFrame([(ts,)], "t string").select(
        F.expr(granularity_sql("to_timestamp(t)", gran, tz)).alias("f"))
    return df.first()["f"]


def test_p1w_floors_to_monday(spark):
    # 2024-01-18 is a Thursday; ISO week starts Monday 2024-01-15
    got = _floor(spark, "2024-01-18 10:00:00",
                 {"type": "period", "period": "P1W"})
    assert got == datetime(2024, 1, 15)


def test_p2w_epoch_aligned(spark):
    # multi-week periods align on multiples from the epoch origin
    # (1970-01-01 was a Thursday) — PeriodGranularity.java:283-294
    got = _floor(spark, "2024-01-18 10:00:00",
                 {"type": "period", "period": "P2W"})
    assert (got - datetime(1970, 1, 1)).total_seconds() % (14 * 86400) == 0
    assert got <= datetime(2024, 1, 18, 10)


def test_duration_with_origin(spark):
    got = _floor(spark, "2024-01-01 00:37:00",
                 {"type": "duration", "duration": 15 * 60_000,
                  "origin": "2024-01-01T00:05:00"})
    # buckets at :05, :20, :35, :50
    assert got == datetime(2024, 1, 1, 0, 35)


def test_period_with_timezone(spark):
    # 2024-01-15T03:30Z = Jan 14 22:30 in New York -> local day floor
    # is Jan 14 00:00 NY = Jan 14 05:00 UTC
    got = _floor(spark, "2024-01-15 03:30:00",
                 {"type": "period", "period": "P1D",
                  "timeZone": "America/New_York"})
    assert got == datetime(2024, 1, 14, 5, 0)


def test_named_fixed_millis(spark):
    got = _floor(spark, "2024-01-01 00:37:00", "fifteen_minute")
    assert got == datetime(2024, 1, 1, 0, 30)


def test_quarter_and_year(spark):
    assert _floor(spark, "2024-08-15 12:00:00", "quarter") == \
        datetime(2024, 7, 1)
    assert _floor(spark, "2024-08-15 12:00:00",
                  {"type": "period", "period": "P1Y"}) == datetime(2024, 1, 1)


def test_multi_month_period(spark):
    # P3M with no origin: quarters
    assert _floor(spark, "2024-05-20 00:00:00",
                  {"type": "period", "period": "P3M"}) == datetime(2024, 4, 1)


def test_ceil_and_shift(spark):
    df = spark.createDataFrame([("2024-01-15 10:30:00",)], "t string")
    row = df.select(
        F.expr(bucket_sql("to_timestamp(t)", "P1D", ceil=True))
        .alias("c"),
        F.expr(shift_sql("to_timestamp(t)", "P1M", "2")).alias("s"),
    ).first()
    assert row["c"] == datetime(2024, 1, 16)
    assert row["s"] == datetime(2024, 3, 15, 10, 30)
    # ceil of an exact boundary is itself
    exact = spark.createDataFrame([("2024-01-15 00:00:00",)], "t string")
    assert exact.select(F.expr(bucket_sql("to_timestamp(t)", "P1D",
                                          ceil=True))
                        .alias("c")).first()["c"] == datetime(2024, 1, 15)
