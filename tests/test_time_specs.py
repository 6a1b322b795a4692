"""Druid time specs are read in one place, model/granularity.py:
ISO instants and intervals (Intervals.of), ISO periods and the named
granularities of GranularityType. The table tests pin the parser; the
rest pin the consumers that used to carry their own copies (segment
pruning and bounds, footer extents, movingAverage, timewarp, origins).
"""

from __future__ import annotations

import glob
import os
import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.model.granularity import (
    ETERNITY, GRANULARITIES, MAX_INSTANT, MIN_INSTANT, floor_ms, iso_of,
    parse_instant, parse_interval, period_of, shift_ms, shift_sql,
    time_floor_col,
)
from apache_druid_spark.plans.compiler import _footer_extent, compile_query

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "apache_druid_spark")

INSTANTS = [
    ("2012", "2012-01-01T00:00:00.000Z"),
    ("2011-04", "2011-04-01T00:00:00.000Z"),
    ("2011-04-05", "2011-04-05T00:00:00.000Z"),
    ("2011-04-05T06", "2011-04-05T06:00:00.000Z"),
    ("2011-04-05T06:07:08.009Z", "2011-04-05T06:07:08.009Z"),
    ("2011-04-05T06:07:08-07:00", "2011-04-05T13:07:08.000Z"),
    ("2011-04-05T06:07:08+05:30", "2011-04-05T00:37:08.000Z"),
    (" 1969-12-31T23:59:59.999Z ", "1969-12-31T23:59:59.999Z"),
]


@pytest.mark.parametrize("text,iso", INSTANTS, ids=[t for t, _ in INSTANTS])
def test_parse_instant(text, iso):
    ms = parse_instant(text)
    assert iso_of(ms) == iso
    assert parse_instant(iso) == ms


def test_parse_instant_epoch_arithmetic():
    assert parse_instant("1970-01-01T00:00:00Z") == 0
    assert parse_instant("1969-12-31T23:59:59.999Z") == -1
    assert parse_instant("2011-01-01T00:00:00-07:00") \
        == parse_instant("2011-01-01T07:00Z") == 1293865200000


def test_eternity_maps_to_joda_min_max():
    assert parse_interval(ETERNITY) == (MIN_INSTANT, MAX_INSTANT)
    assert (MIN_INSTANT, MAX_INSTANT) == (-(1 << 62), 1 << 62)
    assert parse_instant("0000-01-01T00:00:00Z") == MIN_INSTANT
    assert parse_instant("10000-01-01T00:00:00Z") == MAX_INSTANT
    assert iso_of(MIN_INSTANT) == "0001-01-01T00:00:00.000Z"


@pytest.mark.parametrize("text", ["", "yesterday", "2011-13-01",
                                  "2011-01-01T25:00", "2011/2012"])
def test_invalid_instant_raises(text):
    with pytest.raises(ValueError, match="invalid ISO-8601 instant"):
        parse_instant(text)


@pytest.mark.parametrize("text", ["2011", "2011/2012/2013", "x/2012"])
def test_invalid_interval_raises(text):
    with pytest.raises(ValueError, match="invalid ISO-8601 interval"):
        parse_interval(text)


def test_period_of_every_named_granularity():
    assert GRANULARITIES == {
        "second": "PT1S", "minute": "PT1M", "five_minute": "PT5M",
        "ten_minute": "PT10M", "fifteen_minute": "PT15M",
        "thirty_minute": "PT30M", "hour": "PT1H", "six_hour": "PT6H",
        "eight_hour": "PT8H", "day": "P1D", "week": "P1W",
        "month": "P1M", "quarter": "P3M", "year": "P1Y",
    }
    for name, period in GRANULARITIES.items():
        assert period_of(name) == period_of(name.upper()) == period
    assert period_of("PT2H") == "PT2H"
    assert period_of({"type": "period", "period": "P2D"}) == "P2D"
    assert period_of({"type": "duration", "duration": 90061}) \
        == "PT90.061S"
    with pytest.raises(ValueError, match="unsupported granularity"):
        period_of("all")


@pytest.mark.parametrize("name", sorted(GRANULARITIES))
def test_floor_and_shift_twin_the_column_functions(spark, name):
    instants = ["2011-03-31T13:47:12.345Z", "1969-12-30T01:02:03Z",
                "2012-02-29T23:59:59.999Z"]
    ms = [parse_instant(t) for t in instants]
    df = spark.createDataFrame([(m,) for m in ms], "ms long").select(
        F.timestamp_millis("ms").alias("t"))
    rows = df.select(
        F.unix_millis(time_floor_col("t", name)).alias("f"),
        F.expr(f"unix_millis({shift_sql('t', period_of(name), '1')})")
        .alias("s"),
        F.expr(f"unix_millis({shift_sql('t', period_of(name), '-2')})")
        .alias("b"),
    ).collect()
    assert [(r["f"], r["s"], r["b"]) for r in rows] == [
        (floor_ms(m, name), shift_ms(m, name, 1), shift_ms(m, name, -2))
        for m in ms]


def test_time_text_is_read_only_by_granularity():
    """No module but model/granularity.py parses ISO time text or
    defines an ISO period regex. functions/registry.py's
    ``_PERIOD_RE_SQL`` is SQL text: a regexp_extract pattern Spark
    applies to column values at run time."""
    paths = sorted(glob.glob(os.path.join(PKG, "**", "*.py"),
                             recursive=True))
    paths.append(os.path.join(ROOT, "__spark_entry__.py"))
    assert len(paths) > 20
    owner = os.path.join(PKG, "model", "granularity.py")
    for path in paths:
        if path == owner:
            continue
        for lineno, line in enumerate(open(path), start=1):
            where = f"{path}:{lineno}: use model/granularity"
            assert "fromisoformat(" not in line, where
            if re.search(r"P\(\?:", line):
                assert path.endswith(os.path.join("functions",
                                                  "registry.py")) \
                    and line.startswith("_PERIOD_RE_SQL = "), where


# -- consumers ---------------------------------------------------------------

def _segment_bounds_after_insert(spark, tmp_path, partitioned_by):
    from apache_druid_spark.sql.catalog import sys_segments
    from apache_druid_spark.sql.insert import druid_sql_insert

    reg = DatasourceRegistry(spark)
    druid_sql_insert(
        spark,
        "INSERT INTO seg SELECT CAST('2011-02-10 05:00:00' AS TIMESTAMP)"
        f" AS __time, 1 AS v PARTITIONED BY {partitioned_by}",
        reg, str(tmp_path))
    return [(r["start"], r["end"]) for r in sys_segments(reg).collect()]


def test_sys_segments_quarter_ends_one_quarter_later(spark, tmp_path):
    assert _segment_bounds_after_insert(spark, tmp_path, "QUARTER") == [
        ("2011-01-01T00:00:00.000Z", "2011-04-01T00:00:00.000Z")]


def test_sys_segments_all_time_spans_eternity(spark, tmp_path):
    assert _segment_bounds_after_insert(spark, tmp_path, "ALL TIME") == [
        tuple(ETERNITY.split("/"))]


def test_footer_extent_answers_eternity(registry):
    df = registry.table("orders")
    whole = _footer_extent(df, "o_orderdate", ())
    assert whole is not None
    assert _footer_extent(df, "o_orderdate", (ETERNITY,)) == whole


def test_partial_date_origin_floors_like_the_full_instant(spark):
    df = spark.createDataFrame(
        [(datetime(2011, 5, 18, 13, 45),), (datetime(1999, 1, 1, 3),)],
        "t timestamp")

    def floored(origin):
        gran = {"type": "period", "period": "PT7H", "origin": origin}
        return [r[0] for r in
                df.select(time_floor_col("t", gran)).collect()]

    assert floored("2012") == floored("2012-01-01T00:00:00Z")
    # 7-hour buckets from 2012 differ from the epoch-aligned ones
    assert floored("2012") != floored("1970-01-01T00:00:00Z")


def test_timewarp_accepts_partial_dates():
    from apache_druid_spark.plans.timewarp import TimewarpOperator

    op = TimewarpOperator("2014/2015", "P1W", "2014-01-06")
    assert (op.data_start, op.data_end) == parse_interval(
        "2014-01-01T00:00:00Z/2015-01-01T00:00:00Z")


@pytest.fixture(scope="module")
def hourly(spark):
    reg = DatasourceRegistry(spark)
    rows = [(datetime(2023, 12, 31, 22), 1.0),
            (datetime(2023, 12, 31, 23), 2.0),
            (datetime(2024, 1, 1, 0), 4.0),
            (datetime(2024, 1, 1, 1), 8.0),
            (datetime(2024, 1, 1, 2), 16.0)]
    reg.register("hourly", spark.createDataFrame(
        rows, "__time timestamp, v double"))
    return reg


def _moving_average(reg, interval):
    return compile_query({
        "queryType": "movingAverage", "dataSource": "hourly",
        "granularity": "hour", "intervals": [interval],
        "aggregations": [{"type": "doubleSum", "name": "sv",
                          "fieldName": "v"}],
        "averagers": [{"type": "doubleSum", "name": "trail",
                       "fieldName": "sv", "buckets": 2}],
    }, reg)


def test_moving_average_keeps_the_utc_offset(hourly):
    got = _moving_average(
        hourly, "2024-01-01T05:00:00+05:00/2024-01-01T08:00:00+05:00")
    want = _moving_average(hourly, "2024-01-01T00:00:00Z/2024-01-01T03:00Z")
    rows = [tuple(r) for r in got.collect()]
    assert rows == [tuple(r) for r in want.collect()]
    assert [r[-1] for r in rows] == [6.0, 12.0, 24.0]


def test_moving_average_over_eternity_names_the_interval(hourly):
    with pytest.raises(ValueError, match=re.escape(ETERNITY)):
        _moving_average(hourly, ETERNITY)
