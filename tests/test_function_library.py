"""One Druid function library for both languages: a native function with
a Druid SQL counterpart is written under its SQL name and lowered by the
dialect's call-rule tables. Each (native, SQL) pair below runs over one
edge row and must give the same value, Druid's. Query granularity and
SQL TIME_FLOOR count month periods from the epoch alike. Three lints
keep the native parser free of a second implementation."""

from __future__ import annotations

import ast
import math
from datetime import datetime

import pytest

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.model.granularity import time_floor_col
from apache_druid_spark.operators import expressions
from apache_druid_spark.operators.expressions import compile_expression
from apache_druid_spark.plans.compiler import compile_query
from apache_druid_spark.sql.dialect import _CALL_RULES, _INLINE, druid_sql

EXPRESSIONS_PY = expressions.__file__
LONG_MIN = -(2 ** 63)

EDGE = {
    "s": ("string", "abc"),
    "n": ("bigint", 3232235777),
    "k": ("int", 1),
    "x": ("double", 1.25),
    "xn": ("double", -1.25),
    "step": ("bigint", 2),
    "t": ("timestamp", datetime(2000, 6, 15, 1, 2, 3)),
    "t69": ("timestamp", datetime(1969, 5, 3, 4, 5, 6)),
    "lmin": ("bigint", LONG_MIN),
    "lnan": ("bigint", 9221120237041090560),
    "lpinf": ("bigint", 9218868437227405312),
    "dnan": ("double", math.nan),
    "dpinf": ("double", math.inf),
    "dninf": ("double", -math.inf),
    "arr": ("array<bigint>", [10, 20, 30]),
}

# id -> (native expression, Druid SQL expression, Druid's value)
PAIRS = {
    # the native/SQL disagreements, answered the Druid way
    "regexp_extract_no_match": (
        "regexp_extract(s, 'x')", "REGEXP_EXTRACT(s, 'x')", None),
    "ipv4_parse_bigint": ("ipv4_parse(n)", "IPV4_PARSE(n)", 3232235777),
    "ipv4_match_bigint": ("ipv4_match(n, '192.168.0.0/16')",
                          "IPV4_MATCH(n, '192.168.0.0/16')", True),
    "ipv4_stringify_bigint": ("ipv4_stringify(n)", "IPV4_STRINGIFY(n)",
                              "192.168.1.1"),
    "ipv4_parse_uint_string": ("ipv4_parse('3232235777')",
                               "IPV4_PARSE('3232235777')", None),
    "ipv4_match_uint_string": ("ipv4_match('3232235777', '192.168.0.0/16')",
                               "IPV4_MATCH('3232235777', '192.168.0.0/16')",
                               False),
    "round_column_scale": ("round(x, k)", "ROUND(x, k)", 1.3),
    "round_column_scale_negative": ("round(xn, k)", "ROUND(xn, k)", -1.3),
    "time_format_default": ("timestamp_format(t)", "TIME_FORMAT(t)",
                            "2000-06-15T01:02:03.000Z"),
    "time_format_default_zone": (
        "timestamp_format(t, null, 'America/Los_Angeles')",
        "TIME_FORMAT(t, NULL, 'America/Los_Angeles')",
        "2000-06-14T18:02:03.000-07:00"),
    "extract_decade": ("timestamp_extract(t, 'DECADE')",
                       "TIME_EXTRACT(t, 'DECADE')", 200),
    "extract_century": ("timestamp_extract(t, 'CENTURY')",
                        "TIME_EXTRACT(t, 'CENTURY')", 20),
    "extract_millennium": ("timestamp_extract(t, 'MILLENNIUM')",
                           "TIME_EXTRACT(t, 'MILLENNIUM')", 2),
    "shift_column_step": ("timestamp_shift(t, 'P1D', step)",
                          "TIME_SHIFT(t, 'P1D', step)",
                          datetime(2000, 6, 17, 1, 2, 3)),
    # arrays keep their element type; out-of-range ordinals are NULL
    "array_ordinal_zero": ("array_ordinal(arr, 0)", "ARRAY_ORDINAL(arr, 0)",
                           None),
    "array_slice_longs": ("array_slice(arr, 1, 3)", "ARRAY_SLICE(arr, 1, 3)",
                          [20, 30]),
    "array_concat_longs": ("array_concat(arr, [40])",
                           "ARRAY_CONCAT(arr, ARRAY[40])", [10, 20, 30, 40]),
    # the needle is cast to the element type, not both sides to STRING
    "array_offset_of_decimal": ("array_offset_of([1.0, 2.0], 2)",
                                "ARRAY_OFFSET_OF(ARRAY[1.0, 2.0], 2)", 1),
    "array_ordinal_of_decimal": ("array_ordinal_of([1.0, 2.0], 2)",
                                 "ARRAY_ORDINAL_OF(ARRAY[1.0, 2.0], 2)", 2),
    "array_offset_of_string_needle": ("array_offset_of(arr, '20')",
                                      "ARRAY_OFFSET_OF(arr, '20')", 1),
    # LOOKUP and its replaceMissingValueWith argument
    "lookup_hit": ("lookup(s, 'lk')", "LOOKUP(s, 'lk')", "found"),
    "lookup_missing": ("lookup(k, 'lk', 'none')", "LOOKUP(k, 'lk', 'none')",
                       "none"),
    # month periods count from the epoch
    "floor_p7m": ("timestamp_floor(t, 'P7M')", "TIME_FLOOR(t, 'P7M')",
                  datetime(2000, 5, 1)),
    "floor_p7m_before_1970": ("timestamp_floor(t69, 'P7M')",
                              "TIME_FLOOR(t69, 'P7M')", datetime(1968, 11, 1)),
    # compound periods walk month-then-day from the epoch
    "floor_p1m1d": ("timestamp_floor(t, 'P1M1D')", "TIME_FLOOR(t, 'P1M1D')",
                    datetime(2000, 5, 27)),
    "ceil_p1m1d": ("timestamp_ceil(t, 'P1M1D')", "TIME_CEIL(t, 'P1M1D')",
                   datetime(2000, 6, 28)),
    # IEEE-754 reinterpretation at the edges
    "long_bits_of_nan": ("bitwiseConvertDoubleToLongBits(dnan)",
                         "BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(dnan)",
                         9221120237041090560),
    "long_bits_of_inf": ("bitwiseConvertDoubleToLongBits(dpinf)",
                         "BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(dpinf)",
                         9218868437227405312),
    "long_bits_of_ninf": ("bitwiseConvertDoubleToLongBits(dninf)",
                          "BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(dninf)",
                          -4503599627370496),
    "double_of_long_min": ("bitwiseConvertLongBitsToDouble(lmin)",
                           "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(lmin)", -0.0),
    "double_of_nan_bits": ("bitwiseConvertLongBitsToDouble(lnan)",
                           "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(lnan)",
                           math.nan),
    "double_of_inf_bits": ("bitwiseConvertLongBitsToDouble(lpinf)",
                           "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(lpinf)",
                           math.inf),
    "binary_bytes_long_min": ("human_readable_binary_byte_format(lmin)",
                              "HUMAN_READABLE_BINARY_BYTE_FORMAT(lmin)",
                              "-8.00 EiB"),
    "decimal_bytes_long_min": ("human_readable_decimal_byte_format(lmin)",
                               "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(lmin)",
                               "-9.22 EB"),
    "decimal_long_min": ("human_readable_decimal_format(lmin)",
                         "HUMAN_READABLE_DECIMAL_FORMAT(lmin)", "-9.22 E"),
    "binary_bytes_nan": ("human_readable_binary_byte_format(dnan)",
                         "HUMAN_READABLE_BINARY_BYTE_FORMAT(dnan)", "0 B"),
    "binary_bytes_inf": ("human_readable_binary_byte_format(dpinf)",
                         "HUMAN_READABLE_BINARY_BYTE_FORMAT(dpinf)",
                         "8.00 EiB"),
    "decimal_bytes_ninf": ("human_readable_decimal_byte_format(dninf, 1)",
                           "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(dninf, 1)",
                           "-9.2 EB"),
}


@pytest.fixture(scope="module")
def edge(spark):
    reg = DatasourceRegistry(spark)
    reg.register("edge", spark.createDataFrame(
        [tuple(v for _, v in EDGE.values())],
        ", ".join(f"{c} {t}" for c, (t, _) in EDGE.items())))
    reg.register_lookup("lk", {"abc": "found"})
    return reg


def same(got, want) -> bool:
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    if isinstance(want, float) and want == 0:
        return got == 0 and math.copysign(1, got) == math.copysign(1, want)
    return got == want and type(got) is type(want)


@pytest.mark.parametrize("key", sorted(PAIRS))
def test_native_and_sql_agree_with_druid(spark, edge, key):
    native, sql, want = PAIRS[key]
    got_native = edge.table("edge").select(
        compile_expression(native, edge).alias("v")).first()["v"]
    got_sql = druid_sql(spark, f"SELECT {sql} AS v FROM edge",
                        edge).first()["v"]
    assert same(got_native, want), (got_native, want)
    assert same(got_sql, want), (got_sql, want)


def test_compound_floor_is_query_granularity(spark, edge):
    t = edge.table("edge").select(
        time_floor_col("t", "P1M1D").alias("v")).first()["v"]
    assert t == PAIRS["floor_p1m1d"][2]


# -- query granularity buckets month periods from the epoch ---------------

ROWS = [datetime(1968, 2, 29, 12), datetime(1969, 5, 3), datetime(1969, 12, 31),
        datetime(1970, 1, 1), datetime(1983, 7, 4), datetime(2000, 6, 15),
        datetime(2001, 3, 1), datetime(2004, 12, 31, 23, 59)]


@pytest.mark.parametrize("period", ["P7M", "P9M", "P3Y", "P5Y"])
def test_period_granularity_matches_time_floor(spark, period):
    reg = DatasourceRegistry(spark)
    reg.register("months", spark.createDataFrame(
        [(t, 1) for t in ROWS], "ts timestamp, cnt bigint"), time_column="ts")
    series = compile_query({
        "queryType": "timeseries", "dataSource": "months",
        "granularity": {"type": "period", "period": period},
        "intervals": ["1960-01-01/2010-01-01"],
        "aggregations": [{"type": "longSum", "name": "c",
                          "fieldName": "cnt"}]}, reg).collect()
    starts = sorted(r[0] for r in series if r["c"])
    sql = druid_sql(spark, f"SELECT DISTINCT TIME_FLOOR(__time, '{period}') "
                           f"AS b FROM months", reg).collect()
    assert starts == sorted(r["b"] for r in sql)
    assert len(starts) > 1


def test_p7m_and_p3y_anchor_at_the_epoch(spark):
    df = spark.createDataFrame([(datetime(2000, 6, 15), datetime(2001, 3, 1))],
                               "a timestamp, b timestamp")
    row = df.select(
        time_floor_col("a", {"type": "period", "period": "P7M"}),
        time_floor_col("b", {"type": "period", "period": "P3Y"}),
    ).first()
    assert tuple(row) == (datetime(2000, 5, 1), datetime(2000, 1, 1))


# -- lints: no second implementation in the native parser -----------------

def test_expressions_builds_no_columns():
    tree = ast.parse(open(EXPRESSIONS_PY).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names = {f"{node.module}.{a.name}" for a in node.names}
            assert node.module != "pyspark.sql.functions"
            assert "pyspark.sql.functions" not in names
        elif isinstance(node, ast.Import):
            assert not any(a.name.startswith("pyspark.sql.functions")
                           for a in node.names)


def test_every_native_name_maps_to_a_rule():
    rules = set(_CALL_RULES) | set(_INLINE)
    missing = {n: s for n, s in expressions._SQL_NAMES.items()
               if s not in rules}
    assert not missing


def test_shared_names_have_no_native_body():
    shared = set(expressions._SQL_NAMES)
    for table in (expressions._SPARK, expressions._BUILDERS,
                  expressions._APPLY_FUNCTIONS):
        assert not shared & set(table)
    squash = {n.replace("_", "") for n in shared}
    defs = {node.name for node in ast.walk(ast.parse(
        open(EXPRESSIONS_PY).read())) if isinstance(node, ast.FunctionDef)}
    for name in defs:
        bare = name.lstrip("_").removeprefix("fn_").replace("_", "").lower()
        assert bare not in squash, name
