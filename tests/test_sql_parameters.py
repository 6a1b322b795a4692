"""Parameterized SQL (`?` placeholders + SqlParameter bindings) —
ported from the reference's CalciteParameterQueryTest.java and
SqlParameterizerShuttle.java semantics (sql/src/test/java/org/apache/
druid/sql/calcite/, sql/.../planner/). Expected rows are the
SQL-compatible null mode branch.
"""

from __future__ import annotations

import json
import math
import urllib.request
from datetime import datetime

import pytest
from pyspark.sql import types as T

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.sql.dialect import bind_parameters, druid_sql

SCHEMA = T.StructType([
    T.StructField("__time", T.TimestampType()),
    T.StructField("dim1", T.StringType()),
    T.StructField("dim2", T.StringType()),
    T.StructField("cnt", T.LongType()),
    T.StructField("m2", T.DoubleType()),
])

ROWS = [
    (datetime(2000, 1, 1), "", "a", 1, 1.0),
    (datetime(2000, 1, 2), "10.1", None, 1, 2.0),
    (datetime(2000, 1, 3), "2", "", 1, 3.0),
    (datetime(2001, 1, 1), "1", "a", 1, 4.0),
    (datetime(2001, 1, 2), "def", "abc", 1, 5.0),
    (datetime(2001, 1, 3), "abc", None, 1, 6.0),
]


@pytest.fixture(scope="module")
def reg(spark):
    r = DatasourceRegistry(spark)
    r.register("foo", spark.createDataFrame(ROWS, SCHEMA))
    return r


def test_bind_literal_forms():
    # SqlParameterizerShuttle: nulls -> NULL, approx types -> approx
    # numerics, TIMESTAMP accepts millis-since-epoch
    assert bind_parameters("SELECT ?, ?, ?, ?", [
        {"type": "VARCHAR", "value": "o'brien"},
        {"type": "BIGINT", "value": 3},
        {"type": "DOUBLE", "value": 1.1},
        {"type": "VARCHAR", "value": None},
    ]) == "SELECT 'o''brien', 3, 1.1, NULL"
    # ? inside a string literal is NOT a placeholder
    assert bind_parameters("SELECT '?' , ?", [
        {"type": "BIGINT", "value": 7}]) == "SELECT '?' , 7"


def test_decimal_binds_exact_and_nonfinite_guarded():
    """ADVICE r4: DECIMAL must bind verbatim (SqlParameterizerShuttle
    builds an exact numeric literal — float round-trip loses digits),
    and non-finite doubles must not emit bare nan/inf tokens."""
    hi = "123456789012345678.123456789012345678"
    assert bind_parameters("SELECT ?", [
        {"type": "DECIMAL", "value": hi}]) == f"SELECT {hi}"
    from decimal import Decimal
    assert bind_parameters("SELECT ?", [
        {"type": "DECIMAL", "value": Decimal("-0.10")}]) == "SELECT -0.10"
    with pytest.raises(ValueError):
        bind_parameters("SELECT ?", [{"type": "DECIMAL", "value": "1; --"}])
    assert bind_parameters("SELECT ?", [
        {"type": "DOUBLE", "value": float("nan")}]) == "SELECT double('NaN')"
    assert bind_parameters("SELECT ?", [
        {"type": "DOUBLE", "value": float("-inf")}
    ]) == "SELECT double('-Infinity')"


def test_decimal_precision_roundtrip(spark, reg):
    # 19 significant digits survive the binding (float64 holds ~17)
    out = druid_sql(spark, "SELECT CAST(? AS DECIMAL(38, 10)) AS d", reg,
                    parameters=[{"type": "DECIMAL",
                                 "value": "1234567890.1234567891"}]).first()
    from decimal import Decimal
    assert out.d == Decimal("1234567890.1234567891")


def test_params_in_select_and_filter(spark, reg):
    # testParametersInSelectAndFilter (VARCHAR filter variant)
    out = druid_sql(spark, """
        SELECT EXP(COUNT(*)) + ? AS e, SUM(m2) AS s
        FROM foo WHERE dim2 = ?
    """, reg, parameters=[
        {"type": "INTEGER", "value": 10},
        {"type": "VARCHAR", "value": "a"},
    ]).first()
    assert out.e == pytest.approx(math.exp(2) + 10)
    assert out.s == 5.0


def test_doubles(spark, reg):
    # testDoubles — open bounds exclude every cnt=1 row; then equality
    out = druid_sql(spark,
                    "SELECT COUNT(*) AS n FROM foo "
                    "WHERE cnt > ? and cnt < ?", reg,
                    parameters=[{"type": "DOUBLE", "value": 1.1},
                                {"type": "FLOAT", "value": 100000001.0}]
                    ).first()
    assert out.n == 0
    out = druid_sql(spark,
                    "SELECT COUNT(*) AS n FROM foo "
                    "WHERE cnt = ? or cnt = ?", reg,
                    parameters=[{"type": "DOUBLE", "value": 1.0},
                                {"type": "FLOAT", "value": 100000001.0}]
                    ).first()
    assert out.n == 6


def test_timestamp_millis_param(spark, reg):
    # testTimestamp — TIMESTAMP binds millis-since-epoch
    millis_2999 = 32472144000000  # 2999-01-01T00:00:00Z
    out = druid_sql(spark, """
        SELECT EXP(COUNT(*)) + ? AS e FROM foo WHERE __time >= ?
    """, reg, parameters=[
        {"type": "INTEGER", "value": 10},
        {"type": "TIMESTAMP", "value": millis_2999},
    ]).first()
    assert out.e == pytest.approx(11.0)  # exp(0) + 10


def test_null_parameter(spark, reg):
    # testNullParameter — null VARCHAR binds as NULL literal
    out = druid_sql(spark, """
        SELECT COALESCE(dim2, ?, ?) AS c, COUNT(*) AS n
        FROM foo GROUP BY 1
    """, reg, parameters=[
        {"type": "VARCHAR", "value": "parameter"},
        {"type": "VARCHAR", "value": None},
    ]).collect()
    assert {(r.c, r.n) for r in out} == {
        ("", 1), ("a", 2), ("abc", 1), ("parameter", 2)}


def test_missing_parameter(spark, reg):
    # testMissingParameter — "Parameter at position[0] is not bound"
    with pytest.raises(ValueError, match=r"position\[0\] is not bound"):
        druid_sql(spark, "SELECT COUNT(*) FROM foo WHERE cnt > ?", reg)


def test_partially_missing_parameter(spark, reg):
    # testPartiallyMissingParameter
    with pytest.raises(ValueError, match=r"position\[1\] is not bound"):
        druid_sql(spark,
                  "SELECT COUNT(*) FROM foo WHERE cnt > ? AND m2 = ?",
                  reg, parameters=[{"type": "BIGINT", "value": 3}])


def test_http_sql_parameters(spark, reg):
    # SqlResource: POST /druid/v2/sql with a "parameters" field
    # (SqlQuery.java parameters -> SqlParameter list)
    from apache_druid_spark.server.http import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    try:
        body = json.dumps({
            "query": "SELECT dim1, cnt FROM foo WHERE dim1 = ?",
            "parameters": [{"type": "VARCHAR", "value": "def"}],
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/druid/v2/sql", data=body,
            headers={"Content-Type": "application/json"})
        rows = json.loads(urllib.request.urlopen(req).read())
        assert rows == [{"dim1": "def", "cnt": 1}]
    finally:
        srv.stop()


def test_avatica_prepare_execute_with_params(spark, reg):
    # DruidMeta: prepare reports parameter metadata; execute binds
    # Avatica TypedValues
    from apache_druid_spark.server.avatica import AvaticaMeta

    meta = AvaticaMeta(spark, reg)
    meta.handle({"request": "openConnection", "connectionId": "c1"})
    prep = meta.handle({"request": "prepare", "connectionId": "c1",
                        "sql": "SELECT COUNT(*) AS n FROM foo "
                               "WHERE dim2 = ?"})
    sig = prep["statement"]["signature"]
    assert len(sig["parameters"]) == 1
    sid = prep["statement"]["id"]
    res = meta.handle({
        "request": "execute",
        "statementHandle": {"connectionId": "c1", "id": sid},
        "parameterValues": [{"type": "STRING", "value": "a"}],
    })
    rows = res["results"][0]["firstFrame"]["rows"]
    assert rows == [[2]]


def test_avatica_reexecute_rebinds(spark, reg):
    # re-executing a prepared statement with NEW parameterValues must
    # rebind from the original ?-form, not the previously bound text
    from apache_druid_spark.server.avatica import AvaticaMeta

    meta = AvaticaMeta(spark, reg)
    meta.handle({"request": "openConnection", "connectionId": "c2"})
    prep = meta.handle({"request": "prepare", "connectionId": "c2",
                        "sql": "SELECT COUNT(*) AS n FROM foo "
                               "WHERE dim2 = ?"})
    sid = prep["statement"]["id"]
    h = {"connectionId": "c2", "id": sid}
    r1 = meta.handle({"request": "execute", "statementHandle": h,
                      "parameterValues": [{"type": "STRING",
                                           "value": "a"}]})
    r2 = meta.handle({"request": "execute", "statementHandle": h,
                      "parameterValues": [{"type": "STRING",
                                           "value": "abc"}]})
    assert r1["results"][0]["firstFrame"]["rows"] == [[2]]
    assert r2["results"][0]["firstFrame"]["rows"] == [[1]]


def test_avatica_prepare_limit_offset_placeholder(spark, reg):
    """ADVICE r4: prepare must succeed for ? in positions that reject a
    NULL probe (LIMIT ?/OFFSET ?) — Calcite tolerates unbound
    SqlDynamicParams at prepare, so the reference succeeds here."""
    from apache_druid_spark.server.avatica import AvaticaMeta

    meta = AvaticaMeta(spark, reg)
    meta.handle({"request": "openConnection", "connectionId": "c5"})
    prep = meta.handle({"request": "prepare", "connectionId": "c5",
                        "sql": "SELECT dim1 FROM foo ORDER BY dim1 "
                               "LIMIT ? OFFSET ?"})
    assert prep["response"] == "prepare"
    sid = prep["statement"]["id"]
    res = meta.handle({
        "request": "execute",
        "statementHandle": {"connectionId": "c5", "id": sid},
        "parameterValues": [{"type": "LONG", "value": 2},
                            {"type": "LONG", "value": 1}],
    })
    rows = res["results"][0]["firstFrame"]["rows"]
    assert rows == [["1"], ["10.1"]]


def test_backslash_parameter_binds_safely(spark, reg):
    # backslashes must survive binding (Spark string literals treat \
    # as an escape; a trailing \ would swallow the closing quote)
    out = druid_sql(spark, "SELECT ? AS v", reg, parameters=[
        {"type": "VARCHAR", "value": "C:\\temp\\"}]).first()
    assert out.v == "C:\\temp\\"


def test_trailing_backslash_binds_exactly():
    # bound text is Druid SQL: Calcite reads a backslash as itself, and
    # translate escapes it for Spark
    assert bind_parameters("SELECT ?", [
        {"type": "VARCHAR", "value": "x\\"}]) == "SELECT 'x\\'"


def test_http_trailing_backslash_parameter(spark, reg):
    from apache_druid_spark.server.http import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    try:
        body = json.dumps({
            "query": "SELECT ? AS v, LENGTH(?) AS n",
            "parameters": [{"type": "VARCHAR", "value": "x\\"},
                           {"type": "VARCHAR", "value": "x\\"}],
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/druid/v2/sql", data=body,
            headers={"Content-Type": "application/json"})
        rows = json.loads(urllib.request.urlopen(req).read())
        assert rows == [{"v": "x\\", "n": 2}]
    finally:
        srv.stop()


def test_avatica_trailing_backslash_parameter(spark, reg):
    from apache_druid_spark.server.avatica import AvaticaMeta

    meta = AvaticaMeta(spark, reg)
    meta.handle({"request": "openConnection", "connectionId": "c6"})
    prep = meta.handle({"request": "prepare", "connectionId": "c6",
                        "sql": "SELECT ? AS v, LENGTH(?) AS n"})
    res = meta.handle({
        "request": "execute",
        "statementHandle": {"connectionId": "c6",
                            "id": prep["statement"]["id"]},
        "parameterValues": [{"type": "STRING", "value": "x\\"},
                            {"type": "STRING", "value": "x\\"}],
    })
    assert res["results"][0]["firstFrame"]["rows"] == [["x\\", 2]]


def test_primitive_rep_binds_typed(spark, reg):
    # Avatica PRIMITIVE_LONG must bind as a numeric literal
    from apache_druid_spark.server.avatica import AvaticaMeta

    meta = AvaticaMeta(spark, reg)
    meta.handle({"request": "openConnection", "connectionId": "c3"})
    prep = meta.handle({"request": "prepare", "connectionId": "c3",
                        "sql": "SELECT COUNT(*) AS n FROM foo "
                               "WHERE cnt = ?"})
    sid = prep["statement"]["id"]
    res = meta.handle({
        "request": "execute",
        "statementHandle": {"connectionId": "c3", "id": sid},
        "parameterValues": [{"type": "PRIMITIVE_LONG", "value": 1}],
    })
    assert res["results"][0]["firstFrame"]["rows"] == [[6]]


def test_ansi_session_fallback_never_throws(spark, reg):
    # on an ANSI session, druid_sql falls back to TRY_CAST so one
    # malformed row nulls instead of failing the scan
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = druid_sql(spark, """
            SELECT SUM(CAST(dim1 AS INTEGER)) AS s FROM foo
        """, reg).first()
        assert out["s"] == 3  # '10.1' nulls under try_cast; 2 + 1
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


# ---------------------------------------------------------------------
# Round 8: the remaining CalciteParameterQueryTest methods
# ---------------------------------------------------------------------

from test_golden_foo import FOO_ROWS, FOO_SCHEMA  # noqa: E402
from test_golden_query3 import NUMFOO_ROWS, NUMFOO_SCHEMA  # noqa: E402


@pytest.fixture(scope="module")
def reg2(spark):
    r = DatasourceRegistry(spark)
    r.register("gfoo", spark.createDataFrame(FOO_ROWS, FOO_SCHEMA))
    r.register("numfoo", spark.createDataFrame(NUMFOO_ROWS,
                                               NUMFOO_SCHEMA))
    return r


def _rows(spark, r, sql, params):
    return [tuple(x) for x in
            druid_sql(spark, sql, r, parameters=params).collect()]


def _p(t, v):
    return {"type": t, "value": v}


def test_select_constant_param_gets_constant(spark, reg):
    # testSelectConstantParamGetsConstant / testParamsGetOptimizedInto
    # Constant
    assert _rows(spark, reg, "SELECT 1 + ?",
                 [_p("INTEGER", 1)]) == [(2,)]
    out = _rows(spark, reg, "SELECT 1 + ?, dim1 FROM foo LIMIT ?",
                [_p("INTEGER", 1), _p("INTEGER", 1)])
    assert len(out) == 1 and out[0][0] == 2


def test_select_trim_family_with_parameters(spark, reg):
    # testSelectTrimFamilyWithParameters
    out = _rows(spark, reg, """
        SELECT
        TRIM(BOTH ? FROM ?), TRIM(TRAILING ? FROM ?),
        TRIM(? FROM ?), TRIM(TRAILING FROM ?), TRIM(?),
        BTRIM(?), BTRIM(?, ?),
        LTRIM(?), LTRIM(?, ?),
        RTRIM(?), RTRIM(?, ?),
        COUNT(*)
        FROM foo
    """, [_p("VARCHAR", "x"), _p("VARCHAR", "xfoox"),
          _p("VARCHAR", "x"), _p("VARCHAR", "xfoox"),
          _p("VARCHAR", " "), _p("VARCHAR", " foo "),
          _p("VARCHAR", " foo "), _p("VARCHAR", " foo "),
          _p("VARCHAR", " foo "), _p("VARCHAR", "xfoox"),
          _p("VARCHAR", "x"), _p("VARCHAR", " foo "),
          _p("VARCHAR", "xfoox"), _p("VARCHAR", "x"),
          _p("VARCHAR", " foo "),
          _p("VARCHAR", "xfoox"), _p("VARCHAR", "x")])
    assert out == [("foo", "xfoo", "foo", " foo", "foo", "foo", "foo",
                    "foo ", "foox", " foo", "xfoo", 6)]


def test_params_in_select_expression_and_limit(spark, reg):
    # testParamsInSelectExpressionAndLimit (scalar-dim2 fixture;
    # sql-compatible null branch)
    out = _rows(spark, reg,
                "SELECT SUBSTRING(dim2, ?, ?) FROM druid.foo LIMIT ?",
                [_p("INTEGER", 1), _p("INTEGER", 1), _p("INTEGER", 2)])
    assert sorted(out, key=str) == [("a",), (None,)]


def test_params_tucked_in_a_cast(spark, reg2):
    # testParamsTuckedInACast (sql-compatible branch: '' -> null)
    out = _rows(spark, reg2, """
        SELECT dim1, m1, COUNT(*) FROM gfoo
        WHERE m1 - CAST(? as INT) = dim1 GROUP BY dim1, m1
    """, [_p("INTEGER", 1)])
    assert out == [("2", 3.0, 1)]


def test_parameters_in_strange_places(spark, reg):
    # testParametersInStrangePlaces — the reference's dim2 <> ? plans
    # as not(selector) which counts NULL dim2 rows; this engine uses
    # three-valued <>, so the corpus-standard `OR dim2 IS NULL` arm
    # spells the same rows (documented divergence, test_golden_foo.py)
    out = _rows(spark, reg, """
        SELECT dim1,
               COUNT(*) FILTER(WHERE dim2 <> ? OR dim2 IS NULL)
                 / COUNT(*) as ratio
        FROM druid.foo GROUP BY dim1
        HAVING COUNT(*) FILTER(WHERE dim2 <> ? OR dim2 IS NULL)
                 / COUNT(*) = ?
    """, [_p("VARCHAR", "a"), _p("VARCHAR", "a"), _p("INTEGER", 1)])
    assert sorted(out) == [("10.1", 1), ("2", 1), ("abc", 1),
                           ("def", 1)]


def test_parameters_in_cases(spark, reg2):
    # testParametersInCases
    out = _rows(spark, reg2, """
        SELECT
          CASE 'foo'
          WHEN ? THEN SUM(cnt) / CAST(? as INT)
          WHEN ? THEN SUM(m1) / CAST(? as INT)
          WHEN ? THEN SUM(m2) / CAST(? as INT)
          END
        FROM gfoo
    """, [_p("VARCHAR", "bar"), _p("INTEGER", 10),
          _p("VARCHAR", "foo"), _p("INTEGER", 10),
          _p("VARCHAR", "baz"), _p("INTEGER", 10)])
    assert out == [(2.1,)]


def test_timestamp_string_and_date_params(spark, reg):
    # testTimestampString / testDate (sql-compatible: empty sum -> null)
    for t, v in (("TIMESTAMP", "2999-01-01 00:00:00"),
                 ("DATE", "2999-01-01")):
        out = _rows(spark, reg,
                    "SELECT exp(count(*)) + ?, sum(m2) FROM druid.foo "
                    "WHERE __time >= ?",
                    [_p("INTEGER", 10), _p(t, v)])
        assert out == [(11.0, None)]


def test_floats_and_longs_params(spark, reg, reg2):
    # testFloats / testLongs
    assert _rows(spark, reg,
                 "SELECT COUNT(*) FROM druid.foo WHERE cnt = ?",
                 [_p("REAL", 1.0)]) == [(6,)]
    assert _rows(spark, reg2,
                 "SELECT COUNT(*) FROM druid.numfoo WHERE l1 > ?",
                 [_p("BIGINT", 3)]) == [(2,)]


def test_wrong_type_parameter(spark, reg2):
    # testWrongTypeParameter (sql-compatible: 'wat' compared to the
    # FLOAT column is null -> 0 rows)
    assert _rows(spark, reg2, """
        SELECT COUNT(*) FROM druid.numfoo WHERE l1 > ? AND f1 = ?
    """, [_p("BIGINT", 3), _p("VARCHAR", "wat")]) == [(0,)]


def test_partially_missing_parameter_in_the_middle(spark, reg):
    # testPartiallyMissingParameterInTheMiddle — position 0 bound,
    # position 1 missing
    with pytest.raises(ValueError, match=r"position\[1\] is not bound"):
        _rows(spark, reg, "SELECT 1 + ?, dim1 FROM foo LIMIT ?",
              [_p("INTEGER", 1)])


def test_params_in_information_schema(spark, reg):
    # testParamsInInformationSchema — parameters bind in system-table
    # filters (aggregate values are the Spark type surface)
    out = _rows(spark, reg, """
        SELECT COUNT(COLUMN_NAME), COUNT(DISTINCT DATA_TYPE)
        FROM INFORMATION_SCHEMA.COLUMNS
        WHERE TABLE_SCHEMA = ? AND TABLE_NAME = ?
    """, [_p("VARCHAR", "druid"), _p("VARCHAR", "foo")])
    assert out[0][0] == 5
    assert out[0][1] >= 3


def test_params_get_optimized_into_constant(spark, reg):
    # testParamsGetOptimizedIntoConstant: `1 + ?` folds to the
    # constant 2, and the LIMIT binds from a parameter; first row is
    # the earliest (dim1 = '')
    out = druid_sql(spark,
                    "SELECT 1 + ? AS v0, dim1 FROM foo "
                    "ORDER BY __time LIMIT ?", reg,
                    parameters=[{"type": "INTEGER", "value": 1},
                                {"type": "INTEGER", "value": 1}]
                    ).collect()
    assert [(r["v0"], r["dim1"]) for r in out] == [(2, "")]
