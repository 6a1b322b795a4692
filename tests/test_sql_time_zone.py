"""The session zone (sqlTimeZone) reaches every SQL time function, as
Druid's time-function conversions read PlannerContext.getTimeZone()
unless the call names its own zone: one row test per time rule under
America/Los_Angeles, compound literal periods, non-literal periods,
the native timestamp_shift / timestamp_ceil zone checked against the
SQL forms, the context on the Avatica and EXPLAIN paths, and a lint
that keeps zone wrapping in model/granularity's one helper."""

from __future__ import annotations

import ast
import os
from datetime import datetime

import pytest

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.operators.expressions import compile_expression
from apache_druid_spark.server.avatica import AvaticaMeta
from apache_druid_spark.sql.dialect import druid_sql

LA = {"sqlTimeZone": "America/Los_Angeles"}
# 2000-01-01T03:00Z: Friday 1999-12-31T19:00 in Los Angeles
T0 = "MILLIS_TO_TIMESTAMP(946695600000)"
# 2000-04-01T20:00Z: 12:00 PST, the day before the change to PDT
T_DST = "MILLIS_TO_TIMESTAMP(954619200000)"
# 2000-04-02T10:00Z: 03:00 PDT, the day of the change
T_DST_DAY = "MILLIS_TO_TIMESTAMP(954669600000)"


def one(spark, expr, context=None):
    return druid_sql(spark, f"SELECT {expr} AS v",
                     context=context).first()["v"]


# -- one row test per time rule under the session zone -------------------

def test_time_format(spark):
    assert one(spark, f"TIME_FORMAT({T0}, 'yyyy-MM-dd HH:mm')", LA) \
        == "1999-12-31 19:00"


def test_time_extract(spark):
    assert one(spark, f"TIME_EXTRACT({T0}, 'HOUR')", LA) == 19
    assert one(spark, f"TIME_EXTRACT({T0}, 'DOW')", LA) == 5


def test_time_extract_epoch_reads_the_instant(spark):
    assert one(spark, f"TIME_EXTRACT({T0}, 'EPOCH')", LA) == 946695600


def test_time_parse_with_pattern(spark):
    assert one(spark, "TIME_PARSE('2000-01-01 03:00', 'yyyy-MM-dd HH:mm')",
               LA) == datetime(2000, 1, 1, 11, 0)


def test_time_parse_keeps_the_strings_own_offset(spark):
    assert one(spark, "TIME_PARSE('2000-01-01T00:00:00Z')", LA) \
        == datetime(2000, 1, 1, 0, 0)


def test_time_parse_reads_a_bare_string_in_the_zone(spark):
    assert one(spark, "TIME_PARSE('2000-01-01 00:00:00')", LA) \
        == datetime(2000, 1, 1, 8, 0)


def test_time_floor_null_origin(spark):
    assert one(spark, f"TIME_FLOOR({T0}, 'P1D', NULL)", LA) \
        == one(spark, f"TIME_FLOOR({T0}, 'P1D')", LA) \
        == datetime(1999, 12, 31, 8, 0)


def test_time_ceil_across_dst(spark):
    assert one(spark, f"TIME_CEIL({T_DST_DAY}, 'P1D')", LA) \
        == datetime(2000, 4, 3, 7, 0)


def test_time_shift_across_dst(spark):
    assert one(spark, f"TIME_SHIFT({T_DST}, 'P1D', 1)", LA) \
        == datetime(2000, 4, 2, 19, 0)


def test_time_shift_hours_are_elapsed_time(spark):
    # 2000-04-02T09:30Z is 01:30 PST; an hour later is 03:30 PDT
    assert one(spark, "TIME_SHIFT(MILLIS_TO_TIMESTAMP(954667800000), "
                      "'PT1H', 1)", LA) == datetime(2000, 4, 2, 10, 30)


def test_floor_to_and_date_trunc(spark):
    assert one(spark, f"FLOOR({T0} TO DAY)", LA) \
        == one(spark, f"DATE_TRUNC('day', {T0})", LA) \
        == datetime(1999, 12, 31, 8, 0)


def test_own_zone_argument_wins(spark):
    assert one(spark, f"TIME_FORMAT({T0}, 'HH', 'Asia/Tokyo')", LA) == "12"
    assert one(spark, f"TIME_EXTRACT({T0}, 'HOUR', 'UTC')", LA) == 3
    assert one(spark, f"TIME_FLOOR({T0}, 'P1D', NULL, 'UTC')", LA) \
        == datetime(2000, 1, 1)


def test_millis_conversions_are_zone_free(spark):
    assert one(spark, f"TIMESTAMP_TO_MILLIS({T0})", LA) == 946695600000


# -- literal periods --------------------------------------------------------

def test_compound_shift_adds_both_parts(spark):
    assert one(spark, "TIME_SHIFT(TIMESTAMP '2000-01-01 00:00:00', "
                      "'P1M1D', 1)") == datetime(2000, 2, 2)


@pytest.mark.parametrize("fn", ["TIME_FLOOR", "TIME_CEIL"])
def test_compound_bucket_walks_from_the_epoch(spark, fn):
    # a P1M1D bucket steps a month, then a day, from 1970-01-01 or from
    # a literal origin (PeriodGranularity.truncateCompoundPeriod), as
    # query granularity does
    from pyspark.sql import functions as F

    from apache_druid_spark.model.granularity import bucket_sql

    def native(origin=None):
        return spark.range(1).select(F.expr(bucket_sql(
            "timestamp_millis(946695600000)", "P1M1D", origin,
            ceil=fn == "TIME_CEIL")).alias("v")).first()["v"]

    want = native()
    assert want == {"TIME_FLOOR": datetime(1999, 12, 22),
                    "TIME_CEIL": datetime(2000, 1, 23)}[fn]
    assert one(spark, f"{fn}({T0}, 'P1M1D')") == want
    anchored = native("timestamp_millis(946684800000)")  # 2000-01-01
    assert anchored == {"TIME_FLOOR": datetime(2000, 1, 1),
                        "TIME_CEIL": datetime(2000, 2, 2)}[fn]
    assert one(spark, f"{fn}({T0}, 'P1M1D', "
                      f"TIMESTAMP '2000-01-01 00:00:00')") == anchored


@pytest.mark.parametrize("context, want", [
    (None, datetime(2000, 1, 1)),
    (LA, datetime(1999, 12, 31, 8, 0)),
])
def test_non_literal_period_column(spark, context, want):
    out = druid_sql(spark, f"""
        SELECT TIME_FLOOR(t, p) AS f, TIME_SHIFT(t, p, 1) AS s
        FROM (SELECT {T0} AS t, 'P1D' AS p)
    """, context=context).first()
    assert out["f"] == want
    assert out["s"] == datetime(2000, 1, 2, 3, 0)


# -- native timestamp_shift / timestamp_ceil honour their zone ---------------

@pytest.mark.parametrize("native, sql, want", [
    ("timestamp_shift(t, 'P1D', 1, 'America/Los_Angeles')",
     f"TIME_SHIFT({T_DST}, 'P1D', 1, 'America/Los_Angeles')",
     datetime(2000, 4, 2, 19, 0)),
    ("timestamp_ceil(u, 'P1D', null, 'America/Los_Angeles')",
     f"TIME_CEIL({T_DST_DAY}, 'P1D', NULL, 'America/Los_Angeles')",
     datetime(2000, 4, 3, 7, 0)),
])
def test_native_zone_matches_sql(spark, native, sql, want):
    df = spark.createDataFrame(
        [(datetime(2000, 4, 1, 20, 0), datetime(2000, 4, 2, 10, 0))],
        "t timestamp, u timestamp")
    got = df.select(compile_expression(native).alias("v")).first()["v"]
    assert got == one(spark, sql) == want


def test_native_timestamp_format_prints_the_zone_offset(spark):
    df = spark.createDataFrame([(datetime(2000, 1, 1, 3, 0),)],
                               "t timestamp")
    got = df.select(compile_expression(
        "timestamp_format(t, null, 'America/Los_Angeles')").alias("v"))
    assert got.first()["v"] == "1999-12-31T19:00:00.000-08:00"


# -- the query context reaches every statement ----------------------------

def _avatica(spark, info):
    reg = DatasourceRegistry(spark)
    reg.register("tz_t", spark.createDataFrame(
        [(datetime(2000, 1, 1, 3, 0), 1)], "__time timestamp, n long"))
    meta = AvaticaMeta(spark, reg)
    meta.handle({"request": "openConnection", "connectionId": "c",
                 "info": info})
    sid = meta.handle({"request": "createStatement",
                       "connectionId": "c"})["statementId"]
    return lambda sql: meta.handle({
        "request": "prepareAndExecute", "connectionId": "c",
        "statementId": sid, "sql": sql, "maxRowCount": -1})


def test_avatica_connection_zone(spark):
    run = _avatica(spark, {"user": "u", "password": "p", **LA})
    out = run("SELECT TIME_FORMAT(__time, 'yyyy-MM-dd HH') AS v FROM tz_t")
    assert out["results"][0]["firstFrame"]["rows"] == [["1999-12-31 19"]]


def test_avatica_string_flags(spark):
    sql = "SELECT n FROM tz_t"
    off = _avatica(spark, {"requireTimeCondition": "false"})(sql)
    assert off["results"][0]["firstFrame"]["rows"] == [[1]]
    on = _avatica(spark, {"requireTimeCondition": "true"})(sql)
    assert on["response"] == "error"
    assert "requireTimeCondition" in on["errorMessage"]


def test_explain_runs_its_statement_in_the_zone(spark):
    plan = druid_sql(spark, f"EXPLAIN PLAN FOR SELECT TIME_FORMAT({T0}, "
                            f"'HH') AS v", context=LA).first()["PLAN"]
    # Catalyst folds the constant: the LA hour, not the UTC one (03)
    assert "[19 AS v#" in plan


# -- zone wrapping lives in one helper -------------------------------------

def test_zone_conversions_only_in_the_zone_helper():
    path = os.path.join(os.path.dirname(__file__), os.pardir,
                        "apache_druid_spark", "model", "granularity.py")
    src = open(path).read()
    funcs = [n for n in ast.walk(ast.parse(src))
             if isinstance(n, ast.FunctionDef)]
    lines = [i for i, line in enumerate(src.splitlines(), start=1)
             if "from_utc_timestamp(" in line or "to_utc_timestamp(" in line]
    assert lines
    for lineno in lines:
        owner = min((f for f in funcs
                     if f.lineno <= lineno <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno, default=None)
        assert owner is not None and owner.name == "in_zone", \
            f"granularity.py:{lineno}: wrap zones with in_zone"
