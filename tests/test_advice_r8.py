"""Regression tests for the round-7 verdict/advisor findings
(VERDICT.md r7 "What's wrong" #1-#5, ADVICE.md r7).

Each test cites the reference behavior being matched.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.sql.dialect import (
    _check_mv_lambda_hygiene,
    _rewrite_druid_schema,
    druid_sql,
    translate,
)

SCHEMA = ("__time timestamp, dim1 string, dim2 array<string>, "
          "f1 float, cnt long")
ROWS = [
    (datetime(2000, 1, 1), "", ["a"], 1.0, 1),
    (datetime(2000, 1, 2), "10.1", [], 0.1, 1),
    (datetime(2000, 1, 3), "2", [""], 0.0, 1),
    (datetime(2001, 1, 1), "1", ["a"], None, 1),
    (datetime(2001, 1, 2), "def", ["abc"], None, 1),
    (datetime(2001, 1, 3), "abc", None, None, 1),
]
SCALAR_SCHEMA = "__time timestamp, dim1 string, dim2 string, cnt long"
SCALAR_ROWS = [
    (datetime(2000, 1, 1), "s1", "a", 1),
    (datetime(2000, 1, 2), "s2", None, 1),
]


@pytest.fixture(scope="module")
def reg8(spark):
    r = DatasourceRegistry(spark)
    r.register("mvt", spark.createDataFrame(ROWS, SCHEMA))
    r.register("sct", spark.createDataFrame(SCALAR_ROWS, SCALAR_SCHEMA))
    r.register_lookup("lookyloo", {"a": "xa", "abc": "xabc"})
    return r


def rows(spark, reg, sql):
    return [tuple(r) for r in druid_sql(spark, sql, reg).collect()]


# --- VERDICT #2: MV rewrites scoped to the tables the statement
#     actually references ---------------------------------------------

def test_mv_scope_scalar_table_untouched(spark, reg8):
    # sct.dim2 is a scalar STRING; with mvt (MV dim2) registered in the
    # same registry the scalar table must keep plain string semantics
    # (r7: size(dim2) on STRING -> DATATYPE_MISMATCH)
    assert rows(spark, reg8,
                "SELECT dim1 FROM sct WHERE dim2 = 'a'") == [("s1",)]
    assert rows(spark, reg8,
                "SELECT COUNT(dim2) FROM sct") == [(1,)]
    assert rows(spark, reg8,
                "SELECT dim1 FROM sct WHERE dim2 IS NULL") == [("s2",)]


def test_mv_scope_mv_table_still_mv(spark, reg8):
    # the MV table keeps any-element semantics under the same registry
    assert sorted(rows(spark, reg8,
                       "SELECT dim1 FROM mvt WHERE dim2 = 'a'")) \
        == [("",), ("1",)]


# --- VERDICT #1 regression: collect over a whole-array function keeps
#     the array argument (testArrayAggExpression shape) ----------------

def test_array_agg_whole_array_fn_not_flattened(spark, reg8):
    out = druid_sql(spark, """
        SELECT ARRAY_AGG(DISTINCT CONCAT(dim1, MV_TO_STRING(dim2, ','))
               ) AS d FROM mvt
    """, reg8).first()
    assert out["d"][0] is None  # null element kept, sorted first


# --- VERDICT #3 / task #8: lambda hygiene post-condition --------------

def test_mv_lambda_hygiene_raises_on_leak():
    with pytest.raises(ValueError, match="unbound element variable"):
        _check_mv_lambda_hygiene(
            "SELECT CAST(__mv_e AS STRING) FROM t")


def test_mv_lambda_hygiene_accepts_bound():
    _check_mv_lambda_hygiene(
        "SELECT transform(a, __mv_e -> upper(__mv_e)) FROM t")


# --- query3 semantics: LOOKUP over an MV column works inside the
#     element-mapping lambda (r7: MISSING_ATTRIBUTES __mv_e) -----------

def test_lookup_over_mv_element_mapped(spark, reg8):
    out = rows(spark, reg8,
               "SELECT LOOKUP(dim2, 'lookyloo') FROM mvt "
               "WHERE dim1 = 'def'")
    assert out == [(["xabc"],)]


def test_lookup_neq_matches_null(spark, reg8):
    # testFilterAndGroupByLookup: LOOKUP(...) <> 'xxx' plans as
    # not(selector) which matches null lookup results
    out = rows(spark, reg8, """
        SELECT LOOKUP(dim1, 'lookyloo'), COUNT(*) FROM sct
        WHERE LOOKUP(dim1, 'lookyloo') <> 'xxx'
        GROUP BY LOOKUP(dim1, 'lookyloo')
    """)
    assert sorted(out, key=str) == [(None, 2)]


# --- ADVICE #3: HUMAN_READABLE_* small/NULL/long contract -------------

def test_human_readable_small_and_null(spark, reg8):
    out = rows(spark, reg8, """
        SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT(500),
               HUMAN_READABLE_BINARY_BYTE_FORMAT(500, 3),
               HUMAN_READABLE_DECIMAL_BYTE_FORMAT(999),
               HUMAN_READABLE_DECIMAL_FORMAT(999),
               HUMAN_READABLE_BINARY_BYTE_FORMAT(NULL),
               HUMAN_READABLE_BINARY_BYTE_FORMAT(45678.9)
        FROM sct WHERE dim1 = 's1'
    """)
    # |n| < base renders the INTEGER with bare suffix regardless of
    # precision; NULL stays NULL; input truncates to long
    # (core/.../HumanReadableBytes.java format())
    assert out == [("500 B", "500 B", "999 B", "999", None,
                    "44.61 KiB")]


# --- ADVICE #4: druid-alias guard — comma-separated FROM lists --------

def test_druid_schema_comma_from_list():
    out = _rewrite_druid_schema(
        "SELECT a.x, b.y FROM druid.a, druid.b, t AS druid "
        "WHERE a.x = druid.z")
    # both comma-position tables stripped; the alias-qualified column
    # reference druid.z survives
    assert "FROM a, b," in out
    assert "druid.z" in out


# --- ADVICE #5: TIME_CEIL origin expansion binds the floor once -------

def test_time_ceil_origin_binds_floor_once():
    out = translate(
        "SELECT TIME_CEIL(__time, 'PT1H', TIMESTAMP '2000-01-01 00:30:00')"
        " FROM t")
    # the floored value appears once, bound to the __tc_f lambda var
    assert out.count("floor(") == 1
    assert "__tc_f" in out


def test_time_ceil_origin_values_unchanged(spark, reg8):
    out = rows(spark, reg8, """
        SELECT TIME_CEIL(__time, 'PT12H',
                         TIMESTAMP '2000-01-01 06:00:00') AS c
        FROM mvt WHERE dim1 = '10.1'
    """)
    # 2000-01-02T00:00 ceils to the next origin-tiled boundary
    # (06:00 + k*12h): 2000-01-02T06:00
    assert out == [(datetime(2000, 1, 2, 6, 0),)]


# --- float literal coercion (testFilterFloatDimension) ----------------

def test_float_literal_coercion(spark, reg8):
    assert rows(spark, reg8,
                "SELECT dim1 FROM mvt WHERE f1 = 0.1") == [("10.1",)]
