"""Regression tests for the round-6 advisor findings (ADVICE.md r6)
plus VERDICT r6's `druid`-alias qualifier defect.

Each test cites the reference behavior being matched.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.sql.dialect import (
    _rewrite_druid_schema,
    druid_sql,
    translate,
)

MV_SCHEMA = ("__time timestamp, dim1 string, dim3 array<string>, "
             "cnt long")
MV_ROWS = [
    (datetime(2000, 1, 1), "", ["a", "b"], 1),
    (datetime(2000, 1, 2), "10.1", ["b", "c"], 1),
    (datetime(2000, 1, 3), "2", ["d"], 1),
    (datetime(2001, 1, 1), "1", [""], 1),
    (datetime(2001, 1, 2), "def", None, 1),
]


@pytest.fixture(scope="module")
def mvreg(spark):
    r = DatasourceRegistry(spark)
    r.register("mvfoo", spark.createDataFrame(MV_ROWS, MV_SCHEMA))
    return r


# --- ADVICE #1: _rewrite_mv_distinct case-insensitive GROUP BY check --

def test_mv_distinct_lowercase_group_by(spark, mvreg):
    """SELECT DISTINCT over an MV column with an existing lowercase
    'group by' must NOT get a duplicate GROUP BY appended (it would
    fail to parse). The existing clause already triggers the explode
    pass, so element-level distinct values come back either way."""
    lower = druid_sql(spark, """
        SELECT DISTINCT dim3 FROM mvfoo group by dim3
    """, mvreg)
    upper = druid_sql(spark, """
        SELECT DISTINCT dim3 FROM mvfoo GROUP BY dim3
    """, mvreg)
    got = {r["dim3"] for r in lower.collect()}
    assert got == {r["dim3"] for r in upper.collect()}
    assert got == {"a", "b", "c", "d", "", None}


# --- ADVICE #2: TIME_FLOOR origin branch honors the tz argument ------

def test_time_floor_origin_tz_month(spark):
    """TIME_FLOOR(ts, 'P1M', origin, tz): monthly buckets tile from
    the origin's LOCAL wall time (PeriodGranularity with origin+tz;
    testTimeFloorWithOrigin family). Origin 2024-01-01T08:00Z is
    local midnight in Los Angeles; the June bucket start is
    2024-06-01T00:00 local = 2024-06-01T07:00Z (DST)."""
    out = druid_sql(spark, """
        SELECT TIME_FLOOR(TIMESTAMP '2024-06-15 10:00:00', 'P1M',
                          TIMESTAMP '2024-01-01 08:00:00',
                          'America/Los_Angeles') AS t
    """).first()
    assert out["t"] == datetime(2024, 6, 1, 7, 0)


def test_time_floor_origin_utc_unchanged(spark):
    # UTC tz (and the 3-arg form) keeps the plain origin arithmetic
    out = druid_sql(spark, """
        SELECT TIME_FLOOR(TIMESTAMP '2024-06-15 10:00:00', 'P1M',
                          TIMESTAMP '2024-01-01 08:00:00', 'UTC') AS t
    """).first()
    assert out["t"] == datetime(2024, 6, 1, 8, 0)
    assert "America" not in translate(
        "TIME_FLOOR(x, 'P1M', o)")


def test_time_floor_origin_tz_duration(spark):
    """Fixed-duration periods with origin+tz tile in local wall
    millis and convert back to the UTC instant."""
    out = druid_sql(spark, """
        SELECT TIME_FLOOR(TIMESTAMP '2024-01-02 10:30:00', 'PT12H',
                          TIMESTAMP '2024-01-01 08:00:00',
                          'America/Los_Angeles') AS t
    """).first()
    # local: origin 01-01T00:00, ts 01-02T02:30 -> bucket 01-02T00:00
    # local -> 08:00Z
    assert out["t"] == datetime(2024, 1, 2, 8, 0)


# --- ADVICE #3: view materialization converges across name order -----

def test_view_dependency_any_name_order(spark):
    """A view whose body references an alphabetically LATER view must
    still materialize (dependency-order convergence, not sorted-name
    order)."""
    r = DatasourceRegistry(spark)
    r.register("base_t", spark.createDataFrame(
        [(1, "x"), (2, "y")], "k long, v string"))
    r.register_view("z_inner", "SELECT k, v FROM base_t WHERE k = 2")
    r.register_view("a_outer", "SELECT v FROM view.z_inner")
    out = druid_sql(spark, "SELECT v FROM view.a_outer", r).collect()
    assert [row["v"] for row in out] == ["y"]


def test_view_failure_clears_marker(spark):
    """A view-body error must not leave the registration marker set
    with the remaining views unmaterialized: after the failure, a
    query against a GOOD view on the same registry epoch succeeds."""
    r = DatasourceRegistry(spark)
    r.register("base_u", spark.createDataFrame([(1,)], "k long"))
    r.register_view("bad", "SELECT nope FROM no_such_table_xyz")
    r.register_view("good", "SELECT k FROM base_u")
    with pytest.raises(Exception):
        druid_sql(spark, "SELECT * FROM view.bad", r)
    # marker was cleared -> registration (and 'good') retries cleanly
    del r._views["bad"]
    out = druid_sql(spark, "SELECT k FROM view.good", r).first()
    assert out["k"] == 1


# --- ADVICE #5: requireTimeCondition __time word boundary ------------

def test_require_time_condition_rejects_lookalike_column(spark):
    r = DatasourceRegistry(spark)
    r.register("rt_t", spark.createDataFrame(
        [(1, 5)], "x__time long, v long"))
    with pytest.raises(ValueError, match="requireTimeCondition"):
        druid_sql(spark, "SELECT v FROM rt_t WHERE x__time > 0", r,
                  context={"requireTimeCondition": True})


def test_require_time_condition_accepts_real_time_filter(spark, mvreg):
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM mvfoo
        WHERE __time >= TIMESTAMP '2000-01-01 00:00:00'
    """, mvreg, context={"requireTimeCondition": True}).first()
    assert out["n"] == 5


# --- VERDICT r6 defect #1: druid-alias qualifier stripping -----------

def test_druid_schema_strip_plain():
    assert _rewrite_druid_schema("SELECT a FROM druid.foo") \
        == "SELECT a FROM foo"


def test_druid_alias_column_refs_survive():
    sql = "SELECT druid.dim1 FROM foo AS druid WHERE druid.cnt > 0"
    assert _rewrite_druid_schema(sql) == sql


def test_druid_alias_with_schema_table_position():
    sql = "SELECT druid.dim1 FROM druid.foo AS druid"
    assert _rewrite_druid_schema(sql) \
        == "SELECT druid.dim1 FROM foo AS druid"


def test_druid_alias_end_to_end_ambiguous_join(spark, mvreg):
    """With `FROM mvfoo AS druid JOIN ...`, stripping druid.dim1 to a
    bare dim1 would be AMBIGUOUS (both sides have dim1). The alias-
    aware rewrite keeps the qualifier so Spark resolves it."""
    out = druid_sql(spark, """
        SELECT druid.dim1 AS d
        FROM mvfoo AS druid JOIN mvfoo other ON druid.dim1 = other.dim1
        WHERE druid.dim1 = '2'
    """, mvreg).collect()
    assert [r["d"] for r in out] == ["2"]


# --- TIME_CEIL 3/4-arg origin/timezone forms -------------------------
# (TimeCeilOperatorConversion.java — same signature as TIME_FLOOR;
# TimestampCeilExprMacro: ceil = bucketStart when on a boundary, else
# increment(bucketStart). Goldens from ExpressionsTest.testTimeCeil.)

def _scalar(spark, expr):
    return druid_sql(spark, f"SELECT {expr} AS t").first()["t"]


def test_time_ceil_null_origin_tz_day(spark):
    # ExpressionsTest.testTimeCeil: t=2000-02-03T04:05:06Z, P1D in LA
    # -> local Feb 2 20:05 ceils to local Feb 3 00:00 = 08:00Z
    assert _scalar(
        spark,
        "TIME_CEIL(TIMESTAMP '2000-02-03 04:05:06', 'P1D', NULL, "
        "'America/Los_Angeles')") == datetime(2000, 2, 3, 8, 0)


def test_time_ceil_two_arg_hour(spark):
    # testTimeCeil first case: PT1H over 04:05:06 -> 05:00
    assert _scalar(
        spark,
        "TIME_CEIL(TIMESTAMP '2000-02-03 04:05:06', 'PT1H')") \
        == datetime(2000, 2, 3, 5, 0)


def test_time_ceil_origin_month_utc(spark):
    assert _scalar(
        spark,
        "TIME_CEIL(TIMESTAMP '2024-06-15 10:00:00', 'P1M', "
        "TIMESTAMP '2024-01-01 08:00:00')") \
        == datetime(2024, 7, 1, 8, 0)


def test_time_ceil_origin_month_tz(spark):
    # buckets tile from LA local midnight; next boundary after
    # 2024-06-15 is local 2024-07-01 00:00 = 07:00Z (DST)
    assert _scalar(
        spark,
        "TIME_CEIL(TIMESTAMP '2024-06-15 10:00:00', 'P1M', "
        "TIMESTAMP '2024-01-01 08:00:00', 'America/Los_Angeles')") \
        == datetime(2024, 7, 1, 7, 0)


def test_time_ceil_origin_on_boundary_identity(spark):
    # argTime == bucketStartTime -> return bucketStartTime unchanged
    assert _scalar(
        spark,
        "TIME_CEIL(TIMESTAMP '2024-06-01 07:00:00', 'P1M', "
        "TIMESTAMP '2024-01-01 08:00:00', 'America/Los_Angeles')") \
        == datetime(2024, 6, 1, 7, 0)


def test_time_ceil_origin_duration(spark):
    # PT12H buckets from 08:00: floor(01-02 10:30) = 01-02 08:00,
    # ceil steps to 20:00
    assert _scalar(
        spark,
        "TIME_CEIL(TIMESTAMP '2024-01-02 10:30:00', 'PT12H', "
        "TIMESTAMP '2024-01-01 08:00:00')") \
        == datetime(2024, 1, 2, 20, 0)


def test_time_floor_null_origin_nonunit_period(spark):
    # previously-untranslated form: NULL origin + non-unit period now
    # routes through the 2-arg macro with the tz wall-clock shift
    assert _scalar(
        spark,
        "TIME_FLOOR(TIMESTAMP '2024-01-02 10:30:00', 'PT15M', NULL, "
        "'UTC')") == datetime(2024, 1, 2, 10, 30)
    assert _scalar(
        spark,
        "TIME_FLOOR(TIMESTAMP '2000-02-03 04:05:06', 'P1D', NULL, "
        "'America/Los_Angeles')") == datetime(2000, 2, 2, 8, 0)
