"""Golden tests ported from the reference's QueryGranularityTest.java
(processing/src/test/java/org/apache/druid/granularity/, 36 methods) —
bucketStart value pins for PeriodGranularity/DurationGranularity
through granularity_sql (model/granularity.py): timezone truncation in
odd-offset zones (Kathmandu +05:45, Dhaka +06:00), the
America/Los_Angeles daylight-saving fall-back day (25-hour bucket),
origin-anchored periods, compound periods (P1M2D, PT12H5M), and
duration granularities. All inputs/expecteds are the reference's
values converted to UTC instants (this engine's canonical timestamp
flavor).

The iterable/serde/merge methods are reference-API surface without an
analogue here — the bucketing they iterate is exactly bucketStart,
pinned below. Enumerated (r14, full names for grep): the getIterable
bucket-walk matrix testIterableNone, testIterableAllSimple,
testIterableAllComplex, testIterableMinuteSimple,
testIterableMinuteComplex, testIterable15MinuteSimple,
testIterable15MinuteComplex, testIterableHourSimple,
testIterableHourComplex, testIterableDaySimple, testIterableDayComplex,
testIterableWeek, testIterableWeekSimple, testIterableWeekComplex,
testIterableMonth, testIterableMonthSimple, testIterableMonthComplex,
testIterableQuarterSimple, testIterableQuarterComplex,
testIterableYearSimple, testIterableYearComplex (each iterates
bucketStart+increment over an interval — the same floor/shift pinned
below and exercised end-to-end by every granular timeseries golden);
testMerge (Granularity.mergeGranularities null/identity table);
testSerializePeriod, testSerializeDuration,
testStandardGranularitiesSerde (Jackson serde of the Java objects);
testDurationToDateTime (DurationGranularity.toDateTime(millis) is the
identity on instants — no column analogue to pin)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.granularity import granularity_sql


def floors(spark, instants, gran, tz=None):
    df = spark.createDataFrame([(t,) for t in instants], "ts timestamp")
    rows = (df.select("ts", F.expr(granularity_sql("ts", gran, tz))
                      .alias("b")).collect())
    by_in = {r["ts"]: r["b"] for r in rows}
    return [by_in[t] for t in instants]


dt = datetime


def test_truncate_kathmandu(spark):
    # testTruncateKathmandu: +05:45 — year/hour/2-hour buckets align
    # to the :45/:15 local wall, not the UTC hour
    t = dt(2011, 3, 15, 15, 57, 23, 898000)  # 21:42:23.898+05:45
    tz = "Asia/Kathmandu"
    assert floors(spark, [t], {"type": "period", "period": "P1Y"}, tz) \
        == [dt(2010, 12, 31, 18, 15)]          # 2011-01-01T00:00+05:45
    assert floors(spark, [t], {"type": "period", "period": "PT1H"}, tz) \
        == [dt(2011, 3, 15, 15, 15)]           # 21:00+05:45
    assert floors(spark, [t], {"type": "period", "period": "PT2H"}, tz) \
        == [dt(2011, 3, 15, 14, 15)]           # 20:00+05:45


def test_truncate_dhaka(spark):
    # testTruncateDhaka: +06:00
    t = dt(2011, 3, 15, 15, 42, 23, 898000)  # 21:42:23.898+06:00
    tz = "Asia/Dhaka"
    assert floors(spark, [t], {"type": "period", "period": "P1Y"}, tz) \
        == [dt(2010, 12, 31, 18, 0)]
    assert floors(spark, [t], {"type": "period", "period": "PT1H"}, tz) \
        == [dt(2011, 3, 15, 15, 0)]
    assert floors(spark, [t], {"type": "period", "period": "PT2H"}, tz) \
        == [dt(2011, 3, 15, 14, 0)]


def test_period_daylight_saving_day(spark):
    # testPeriodDaylightSaving: the 2012-11-04 LA fall-back day is a
    # 25-hour bucket — both 23:59-08:00 and 12:00-07:00 floor to
    # 00:00-07:00; the next day starts at 00:00-08:00
    gran = {"type": "period", "period": "P1D"}
    tz = "America/Los_Angeles"
    ins = [
        dt(2012, 11, 4, 19, 0),            # 11:00-08:00 mid-DST-day
        dt(2012, 11, 5, 7, 59),            # 23:59-08:00 same local day
        dt(2012, 11, 5, 8, 30),            # 00:30-08:00 next local day
    ]
    assert floors(spark, ins, gran, tz) == [
        dt(2012, 11, 4, 7, 0),             # 2012-11-04T00:00-07:00
        dt(2012, 11, 4, 7, 0),
        dt(2012, 11, 5, 8, 0),             # 2012-11-05T00:00-08:00
    ]


def test_period_truncate_days_with_origin(spark):
    # testPeriodTruncateDays: P2D anchored at 2012-01-02T05:00-08:00
    gran = {"type": "period", "period": "P2D",
            "origin": "2012-01-02T05:00:00.000-08:00"}
    tz = "America/Los_Angeles"
    ins = [dt(2012, 1, 1, 13, 0, 4, 123000),
           dt(2012, 1, 2, 15, 0, 4, 123000),
           dt(2012, 1, 4, 15, 20, 4, 123000)]
    assert floors(spark, ins, gran, tz) == [
        dt(2011, 12, 31, 13, 0),           # 2011-12-31T05:00-08:00
        dt(2012, 1, 2, 13, 0),
        dt(2012, 1, 4, 13, 0),
    ]


def test_period_truncate_days_no_origin(spark):
    gran = {"type": "period", "period": "P2D"}
    tz = "America/Los_Angeles"
    ins = [dt(2012, 1, 1, 13, 0, 4, 123000),
           dt(2012, 1, 2, 15, 0, 4, 123000),
           dt(2012, 1, 4, 15, 20, 4, 123000)]
    assert floors(spark, ins, gran, tz) == [
        dt(2012, 1, 1, 8, 0),              # 2012-01-01T00:00-08:00
        dt(2012, 1, 1, 8, 0),
        dt(2012, 1, 3, 8, 0),
    ]


def test_period_truncate_minutes(spark):
    # testPeriodTruncateMinutes: PT15M with/without a :05 origin
    g_o = {"type": "period", "period": "PT15M",
           "origin": "2012-01-02T00:05:00.000Z"}
    ins = [dt(2012, 1, 1, 5, 0, 4, 123000),
           dt(2012, 1, 2, 7, 8, 4, 123000),
           dt(2012, 1, 4, 0, 20, 4, 123000)]
    assert floors(spark, ins, g_o) == [
        dt(2012, 1, 1, 4, 50), dt(2012, 1, 2, 7, 5),
        dt(2012, 1, 4, 0, 20)]
    g_n = {"type": "period", "period": "PT15M"}
    assert floors(spark, ins, g_n) == [
        dt(2012, 1, 1, 5, 0), dt(2012, 1, 2, 7, 0),
        dt(2012, 1, 4, 0, 15)]


def test_compound_period_truncate_with_origin(spark):
    # testCompoundPeriodTruncate: P1M2D anchored — month+day compound
    # steps from the origin; a value ON a boundary floors to itself
    gran = {"type": "period", "period": "P1M2D",
            "origin": "2012-01-02T05:00:00.000-08:00"}
    tz = "America/Los_Angeles"
    ins = [dt(2012, 1, 1, 13, 0, 4, 123000),
           dt(2012, 1, 2, 15, 0, 4, 123000),
           dt(2012, 3, 1, 15, 20, 4, 123000),
           dt(2012, 2, 4, 13, 0)]
    assert floors(spark, ins, gran, tz) == [
        dt(2011, 11, 30, 13, 0),           # 2011-11-30T05:00-08:00
        dt(2012, 1, 2, 13, 0),
        dt(2012, 2, 4, 13, 0),
        dt(2012, 2, 4, 13, 0),
    ]


def test_compound_period_truncate_no_origin(spark):
    gran = {"type": "period", "period": "P1M2D"}
    tz = "America/Los_Angeles"
    ins = [dt(1970, 1, 1, 13, 2, 4, 123000),
           dt(2012, 1, 1, 13, 2, 4, 123000),
           dt(2012, 1, 15, 15, 1, 4, 123000),
           dt(2012, 2, 16, 8, 0)]
    assert floors(spark, ins, gran, tz) == [
        dt(1970, 1, 1, 8, 0),              # 1970-01-01T00:00-08:00
        dt(2011, 12, 12, 8, 0),
        dt(2012, 1, 14, 8, 0),
        dt(2012, 2, 16, 8, 0),
    ]


def test_compound_period_hours_minutes(spark):
    # testCompoundPeriodTruncate PT12H5M +
    # testCompoundPeriodMillisTruncate (fixed compound period —
    # identical in LA and UTC zones)
    ins = [dt(2012, 1, 1, 13, 0, 4, 123000),
           dt(2012, 1, 2, 15, 0, 4, 123000),
           dt(2012, 1, 3, 8, 20, 4, 123000),
           dt(2012, 2, 4, 6, 25)]
    want = [
        dt(2012, 1, 1, 12, 50),            # 2012-01-01T04:50-08:00
        dt(2012, 1, 2, 13, 0),
        dt(2012, 1, 3, 1, 5),              # 2012-01-02T17:05-08:00
        dt(2012, 2, 4, 6, 25),
    ]
    for tz in ("America/Los_Angeles", None):
        gran = {"type": "period", "period": "PT12H5M",
                "origin": "2012-01-02T05:00:00.000-08:00"}
        assert floors(spark, ins, gran, tz) == want, tz


def test_duration_bucket_start(spark):
    # testDurationBucketStart: a DurationGranularity of the same
    # PT12H5M millis with the same origin buckets identically
    ms = (12 * 3600 + 5 * 60) * 1000
    gran = {"type": "duration", "duration": ms,
            "origin": "2012-01-02T05:00:00.000-08:00"}
    ins = [dt(2012, 1, 1, 13, 0, 4, 123000),
           dt(2012, 1, 2, 15, 0, 4, 123000),
           dt(2012, 1, 3, 8, 20, 4, 123000)]
    assert floors(spark, ins, gran) == [
        dt(2012, 1, 1, 12, 50), dt(2012, 1, 2, 13, 0),
        dt(2012, 1, 3, 1, 5)]


def test_duration_increment(spark):
    # testDurationIncrement + testDurationIncrementOnMillis (r14):
    # increment() of a PT12H5M DurationGranularity adds the fixed
    # millis — shift_sql by a duration gran's period, step 1 (the
    # OnMillis twin asserts the same instants as epoch longs; one
    # column op covers both). Reference instants converted to UTC.
    from pyspark.sql import functions as F

    from apache_druid_spark.model.granularity import period_of, shift_sql

    ms = (12 * 3600 + 5 * 60) * 1000
    gran = {"type": "duration", "duration": ms,
            "origin": "2012-01-02T05:00:00.000-08:00"}
    ins = [dt(2012, 1, 1, 13, 0, 4, 123000),
           dt(2012, 1, 2, 15, 0, 4, 123000),
           dt(2012, 1, 3, 8, 20, 4, 123000),
           dt(2012, 2, 4, 6, 25)]
    df = spark.createDataFrame([(t,) for t in ins], "ts timestamp")
    rows = df.select("ts", F.expr(shift_sql("ts", period_of(gran), "1"))
                     .alias("n")) \
        .collect()
    by_in = {r["ts"]: r["n"] for r in rows}
    assert [by_in[t] for t in ins] == [
        dt(2012, 1, 2, 1, 5, 4, 123000),    # 2012-01-01T17:05:04-08:00
        dt(2012, 1, 3, 3, 5, 4, 123000),    # 2012-01-02T19:05:04-08:00
        dt(2012, 1, 3, 20, 25, 4, 123000),  # 2012-01-03T12:25:04-08:00
        dt(2012, 2, 4, 18, 30),             # 2012-02-04T10:30:00-08:00
    ]
