"""The two rule tables of the SQL dialect, both applied by
`_rewrite_calls`: `_CALL_RULES` inside `translate` and the inline table
`_INLINE` after the multi-value passes. One nested same-name sample per
Druid function, row checks of nested calls, of the shapes a rule once
split off for a registered function, and of call names inside string
literals, and Druid (Calcite) string-literal semantics — a backslash is
an ordinary character."""

from __future__ import annotations

import glob
import os
import re
from datetime import datetime

import pytest

from apache_druid_spark.sql.dialect import (
    _BODIES, _CALL_RULES, _INLINE, _RENAMES, _inline, _rewrite_calls,
    druid_sql, translate,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "apache_druid_spark")


def _rest(k: str) -> str:
    return "".join(f", c{i}" for i in range(1, len(_BODIES[k][0])))


# key -> (outer call with {} where the nested call goes, nested call)
SAMPLES = {
    **{k: (f"{k}({{}})", f"{k}(x)") for k in _RENAMES},
    **{k: (f"{k}({{}}{_rest(k)})", f"{k}(c0{_rest(k)})")
       for k, rule in _INLINE.items() if rule is _inline},
    "LOOKUP": ("LOOKUP({}, 'lk')", "LOOKUP(dim1, 'lk')"),
    "__MV_WRAP": ("__mv_wrap({})", "__mv_wrap(dim1)"),
    "REGEXP_EXTRACT": ("REGEXP_EXTRACT({}, '[0-9]+')",
                       "REGEXP_EXTRACT(dim1, 'a[0-9]+')"),
    "REGEXP_LIKE": ("REGEXP_LIKE(CAST({} AS STRING), 'true')",
                    "REGEXP_LIKE(dim1, '^a')"),
    "ROUND": ("ROUND({} + 1)", "ROUND(m1, 1)"),
    "TIME_PARSE": ("TIME_PARSE(CAST({} AS STRING), NULL, 'UTC')",
                   "TIME_PARSE(dim1, 'yyyy-MM-dd', 'America/Los_Angeles')"),
    "TIME_FORMAT": ("TIME_FORMAT(TIME_PARSE({}), 'yyyy', 'Asia/Tokyo')",
                    "TIME_FORMAT(__time, 'yyyy-MM-dd', 'Europe/Paris')"),
    "TIME_EXTRACT": ("TIME_EXTRACT(MILLIS_TO_TIMESTAMP({}), 'HOUR', "
                     "'Asia/Tokyo')",
                     "TIME_EXTRACT(__time, 'DAY', 'America/Los_Angeles')"),
    "TIME_SHIFT": ("TIME_SHIFT({}, 'P1D', 1, 'Asia/Tokyo')",
                   "TIME_SHIFT(__time, 'P1M', -1, 'America/Los_Angeles')"),
    "TIME_FLOOR": ("TIME_FLOOR({}, 'P1M', NULL, 'Asia/Tokyo')",
                   "TIME_FLOOR(__time, 'P1D', NULL, 'America/Los_Angeles')"),
    "TIME_CEIL": ("TIME_CEIL({}, 'PT1H', TIMESTAMP '2000-01-01 00:30:00')",
                  "TIME_CEIL(__time, 'P1D', NULL, 'America/Los_Angeles')"),
    "DATE_TRUNC": ("DATE_TRUNC('year', {})", "DATE_TRUNC('day', __time)"),
    "FLOOR": ("FLOOR({} TO MONTH)", "FLOOR(__time TO DAY)"),
    "CEIL": ("CEIL({} TO YEAR)", "CEIL(__time TO HOUR)"),
    "PARSE_LONG": ("PARSE_LONG(CAST({} AS STRING), 10)",
                   "PARSE_LONG(dim1, 16)"),
    "POSITION": ("POSITION('1' IN CAST({} AS STRING) FROM 1)",
                 "POSITION('a' IN dim1 FROM 2)"),
    "REPEAT": ("REPEAT({}, 2)", "REPEAT('ab', -1)"),
    "IPV4_PARSE": ("IPV4_PARSE({})", "IPV4_PARSE(3232235777)"),
    "IPV4_MATCH": ("IPV4_MATCH(3232235777, CASE WHEN {} "
                   "THEN '192.168.0.0/16' END)",
                   "IPV4_MATCH(167772161, '10.0.0.0/8')"),
    "IPV4_STRINGIFY": ("IPV4_STRINGIFY({})",
                       "IPV4_STRINGIFY('192.168.0.1')"),
    "ARRAY_ORDINAL": ("ARRAY_ORDINAL(ARRAY[{}], 1)", "ARRAY_ORDINAL(arr, 2)"),
    "ARRAY_PREPEND": ("ARRAY_PREPEND('z', {})",
                      "ARRAY_PREPEND('a', ARRAY['b'])"),
    "ARRAY_CONCAT": ("ARRAY_CONCAT(ARRAY[1], ARRAY[ARRAY_LENGTH({})])",
                     "ARRAY_CONCAT(ARRAY[2], ARRAY[3])"),
    "EXTRACT": ("EXTRACT(DECADE FROM MILLIS_TO_TIMESTAMP({}))",
                "EXTRACT(MILLISECOND FROM __time)"),
    "GROUPING": ("GROUPING({}, dim2)", "GROUPING(dim1, dim2)"),
    "LTRIM": ("LTRIM({}, 'y')", "LTRIM('xfoox', 'x')"),
    "RTRIM": ("RTRIM({}, 'y')", "RTRIM('xfoox', 'x')"),
    "MV_SLICE": ("MV_SLICE({}, 1)", "MV_SLICE(dim3, 0)"),
    "ARRAY_SLICE": ("ARRAY_SLICE({}, 1)", "ARRAY_SLICE(arr, 0)"),
    "MV_CONTAINS": ("MV_CONTAINS(ARRAY[CAST({} AS STRING)], "
                    "ARRAY['true'])",
                    "MV_CONTAINS(dim3, ARRAY['a', 'b'])"),
    "ARRAY_CONTAINS": ("ARRAY_CONTAINS(ARRAY[CAST({} AS STRING)], "
                       "ARRAY['true'])",
                       "ARRAY_CONTAINS(arr, ARRAY['a', 'b'])"),
    "TRUNC": ("TRUNC({})", "TRUNC(m1, 1)"),
    "TRUNCATE": ("TRUNCATE({} * 10)", "TRUNCATE(m1)"),
    "HUMAN_READABLE_BINARY_BYTE_FORMAT": (
        "HUMAN_READABLE_BINARY_BYTE_FORMAT(LENGTH({}))",
        "HUMAN_READABLE_BINARY_BYTE_FORMAT(cnt, 1)"),
    "HUMAN_READABLE_DECIMAL_BYTE_FORMAT": (
        "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(LENGTH({}))",
        "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(cnt, 1)"),
    "HUMAN_READABLE_DECIMAL_FORMAT": (
        "HUMAN_READABLE_DECIMAL_FORMAT(LENGTH({}))",
        "HUMAN_READABLE_DECIMAL_FORMAT(cnt)"),
    "SUBSTRING": ("SUBSTRING({} FROM 2)", "SUBSTRING(dim1, 3, 2)"),
    "ANY_VALUE": ("ANY_VALUE({}, 10)", "ANY_VALUE(dim1, 20)"),
    **{k: (f"{k}(SELECT {{}} FROM t)", f"{k}(SELECT m1 FROM t)")
       for k in ("SUM", "MIN", "MAX", "AVG", "COUNT")},
    "EARLIEST": ("EARLIEST({}, 10)", "EARLIEST(dim1, 20)"),
    "LATEST": ("LATEST({}, 10)", "LATEST(dim1)"),
    "EARLIEST_BY": ("EARLIEST_BY({}, __time, 10)",
                    "EARLIEST_BY(dim1, __time)"),
    "LATEST_BY": ("LATEST_BY({}, __time)", "LATEST_BY(dim1, __time, 20)"),
    "SUM0": ("SUM0({})", "SUM0(cnt)"),
    "APPROX_COUNT_DISTINCT": ("APPROX_COUNT_DISTINCT(DISTINCT {})",
                              "APPROX_COUNT_DISTINCT(DISTINCT dim1)"),
    "APPROX_COUNT_DISTINCT_DS_HLL": ("APPROX_COUNT_DISTINCT_DS_HLL({})",
                                     "APPROX_COUNT_DISTINCT_DS_HLL(dim1)"),
    "APPROX_COUNT_DISTINCT_BUILTIN": (
        "APPROX_COUNT_DISTINCT_BUILTIN(DISTINCT {})",
        "APPROX_COUNT_DISTINCT_BUILTIN(dim1)"),
    "APPROX_COUNT_DISTINCT_DS_THETA": (
        "APPROX_COUNT_DISTINCT_DS_THETA({})",
        "APPROX_COUNT_DISTINCT_DS_THETA(DISTINCT dim1)"),
}

# the other argument count or type of an entry that takes two shapes
MORE_SAMPLES = {
    "PARSE_LONG": ("PARSE_LONG({})", "PARSE_LONG('12')"),
    "TRUNCATE": ("TRUNCATE({}, 2)", "TRUNCATE(m1, 1)"),
    "IPV4_PARSE": ("IPV4_PARSE({})", "IPV4_PARSE('192.168.0.1')"),
    "IPV4_STRINGIFY": ("IPV4_STRINGIFY({})", "IPV4_STRINGIFY(3232235777)"),
    "IPV4_MATCH": ("IPV4_MATCH(CAST({} AS STRING), '10.0.0.0/8')",
                   "IPV4_MATCH('10.0.0.1', '10.0.0.0/8')"),
    "MV_SLICE": ("MV_SLICE({}, 1, 2)", "MV_SLICE(dim3, 0, 1)"),
    "ARRAY_SLICE": ("ARRAY_SLICE({}, 1, 2)", "ARRAY_SLICE(arr, 0, 1)"),
    "ARRAY_CONCAT": ("ARRAY_CONCAT({}, arr)", "ARRAY_CONCAT(dim3, arr)"),
    "MV_CONTAINS": ("MV_CONTAINS({}, 'a')", "MV_CONTAINS(dim3, 'b')"),
    "TIME_FLOOR": ("TIME_FLOOR({}, p)", "TIME_FLOOR(__time, p)"),
    "TIME_CEIL": ("TIME_CEIL({}, p)", "TIME_CEIL(__time, p)"),
    "TIME_SHIFT": ("TIME_SHIFT({}, p, 2)", "TIME_SHIFT(__time, p, -1)"),
}
HOLE = "hole_"


def rewrite(sql: str) -> str:
    """Both rule tables, as druid_sql applies them without a registry."""
    return _rewrite_calls(translate(sql), None, _INLINE)


def test_every_rule_has_a_nested_sample():
    assert set(SAMPLES) == set(_CALL_RULES) | set(_INLINE)


def test_no_function_is_both_a_rule_and_inlined():
    assert not set(_CALL_RULES) & set(_INLINE)


def test_no_function_is_registered_with_spark():
    """Every Druid SQL function is text the dialect inlines: the package
    declares no Spark SQL function."""
    paths = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    assert len(paths) > 20
    for path in paths:
        assert not re.search(r"\bCREATE\s+(?:\w+\s+)*?FUNCTION\b",
                             open(path).read(), re.IGNORECASE), path


def test_bodies_hold_no_backslash():
    # a body is inlined into Druid-form text (the time rules, inside
    # translate) and into Spark-form text (after it): both read it alike
    assert not any("\\" in text for _, _, text in _BODIES.values())


def nested_rewrite(outer: str, inner: str) -> None:
    inner_out = rewrite(inner)
    outer_out = rewrite(outer.format(HOLE))
    assert inner_out != inner
    assert outer_out != outer.format(HOLE)
    # the outer rule sees the nested call already rewritten, and its
    # own output is never scanned again
    assert rewrite(outer.format(inner)) == outer_out.replace(HOLE, inner_out)


@pytest.mark.parametrize("key", sorted(SAMPLES))
def test_nested_same_name_call_is_rewritten_at_both_levels(key):
    nested_rewrite(*SAMPLES[key])


@pytest.mark.parametrize("key", sorted(MORE_SAMPLES))
def test_nested_call_of_the_second_shape(key):
    nested_rewrite(*MORE_SAMPLES[key])


# each shape a rewrite rule once fitted to a registered function's
# arity or type, over one row: s = ['a'], t = 2000-01-01T03:00, p = PT2H
@pytest.mark.parametrize("expr, want", [
    ("PARSE_LONG('42')", 42),
    ("PARSE_LONG('-ff', 16)", -255),
    ("TRUNC(-1.77)", -1.0),
    ("TRUNCATE(1.777, 2)", 1.77),
    ("IPV4_PARSE(3232235777)", 3232235777),
    ("IPV4_PARSE('192.168.1.1')", 3232235777),
    ("IPV4_STRINGIFY(3232235777)", "192.168.1.1"),
    ("IPV4_STRINGIFY('192.168.0.1')", "192.168.0.1"),
    ("IPV4_MATCH(3232235777, '192.168.0.0/16')", True),
    ("IPV4_MATCH('10.0.0.1', '192.168.0.0/16')", False),
    ("MV_SLICE(ARRAY['a', 'b', 'c'], 1)", ["b", "c"]),
    ("ARRAY_SLICE(ARRAY['a', 'b', 'c'], 0, 2)", ["a", "b"]),
    ("ARRAY_CONCAT(ARRAY[1], ARRAY[2])", [1, 2]),
    ("ARRAY_CONCAT(s, ARRAY['z'])", ["a", "z"]),
    ("MV_CONTAINS(s, 'a')", True),
    ("MV_CONTAINS(s, ARRAY['a', 'b'])", False),
    ("TIME_FLOOR(t, p)", datetime(2000, 1, 1, 2, 0)),
    ("TIME_CEIL(t, p)", datetime(2000, 1, 1, 4, 0)),
    ("TIME_SHIFT(t, p, 2)", datetime(2000, 1, 1, 7, 0)),
])
def test_shape_once_split_between_a_rule_and_a_function(spark, expr, want):
    row = druid_sql(spark, f"""
        SELECT {expr} AS v FROM (SELECT ARRAY['a'] AS s, 'PT2H' AS p,
                                        TIMESTAMP '2000-01-01 03:00:00' AS t)
    """).first()
    assert row.v == want


def test_call_names_inside_literals_are_kept():
    sql = "SELECT 'FLOOR(a TO DAY)', 'ROUND(x)', 'EARLIEST(z)' FROM t"
    assert translate(sql) == sql


def test_unclosed_call_is_left_as_written():
    assert translate("SELECT ROUND(x") == "SELECT ROUND(x"
    assert translate("SELECT REPEAT(") == "SELECT REPEAT("


def one(spark, sql):
    return druid_sql(spark, sql).first()


def test_nested_repeat_negative_is_null(spark):
    assert one(spark, "SELECT REPEAT(REPEAT('ab', -1), 2) AS v").v is None


def test_nested_round_of_nan(spark):
    # the inner NaN rounds to 0, so the outer rounds 0 + 1
    assert one(spark, "SELECT ROUND(ROUND(CAST('NaN' AS DOUBLE)) + 1) "
                      "AS v").v == 1.0


def test_nested_time_floor_with_zones(spark):
    # 10:00Z is 03:00 in Los Angeles: the day starts 07:00Z, which is
    # 16:00 in Tokyo, whose month starts 2024-05-31T15:00Z
    row = one(spark, """
        SELECT TIME_FLOOR(TIME_FLOOR(TIMESTAMP '2024-06-15 10:00:00',
                                     'P1D', NULL, 'America/Los_Angeles'),
                          'P1M', NULL, 'Asia/Tokyo') AS v""")
    assert row.v == datetime(2024, 5, 31, 15, 0)


def test_floor_to_over_two_levels_of_calls(spark):
    # 40 days after the epoch, shifted one day, floored to the month
    row = one(spark, """
        SELECT FLOOR(TIME_SHIFT(MILLIS_TO_TIMESTAMP(cnt), 'P1D', 1)
                     TO MONTH) AS v
        FROM (SELECT CAST(3456000000 AS BIGINT) AS cnt)""")
    assert row.v == datetime(1970, 2, 1)


def test_floor_to_inside_a_literal_is_text(spark):
    assert one(spark, "SELECT 'FLOOR(a TO DAY)' AS v").v == \
        "FLOOR(a TO DAY)"


def test_backslash_in_a_literal_is_a_character(spark):
    row = one(spark, r"SELECT 'C:\temp' AS p, LENGTH('a\b') AS n")
    assert (row.p, row.n) == ("C:\\temp", 3)


def test_regex_escape_reaches_the_regex_engine(spark):
    row = one(spark, r"SELECT REGEXP_EXTRACT('Brand#12', 'Brand#(\d+)', 1)"
                     r" AS v")
    assert row.v == "12"


@pytest.mark.parametrize("value, pattern, matches", [
    ("'a%b'", "'a!%b'", True),
    ("'a%xb'", "'a!%b'", False),
    ("'abc'", "'a!bc'", True),
    (r"'a\b'", r"'a\b'", True),
])
def test_like_with_escape_clause(spark, value, pattern, matches):
    row = one(spark, f"SELECT {value} LIKE {pattern} ESCAPE '!' AS v")
    assert row.v is matches


@pytest.mark.parametrize("value, pattern, matches", [
    (r"'a\b'", r"'a\b'", True),
    (r"'a\%'", r"'a\%'", True),
    (r"'a\xyz'", r"'a\%'", True),
    (r"'a%'", r"'a\%'", False),
])
def test_like_without_escape_clause_reads_backslash_as_itself(
        spark, value, pattern, matches):
    row = one(spark, f"SELECT {value} LIKE {pattern} AS v")
    assert row.v is matches


def test_calls_inside_a_quoted_identifier_are_text():
    assert translate('SELECT 1 AS "SUM0(y)", SUM0(y) FROM t') == \
        "SELECT 1 AS `SUM0(y)`, coalesce(sum(y), 0) FROM t"
    assert translate("SELECT `ROUND(x)` FROM t") == "SELECT `ROUND(x)` FROM t"
