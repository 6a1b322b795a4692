"""Golden tests over the reference's `foo` fixture (FIXTURES.md §1,
CalciteTests.java:417-464): the 6-row table whose exact rows anchor
~14k lines of CalciteQueryTest assertions. Each test mirrors a
characteristic golden case; expected rows derive from the fixture spec
(SQL-compatible null mode — NULL_STRING is null, not '')."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.plans.compiler import compile_query
from apache_druid_spark.sql.dialect import druid_sql

FOO_SCHEMA = T.StructType([
    T.StructField("__time", T.TimestampType()),
    T.StructField("dim1", T.StringType()),
    T.StructField("dim2", T.ArrayType(T.StringType())),
    T.StructField("dim3", T.ArrayType(T.StringType())),
    T.StructField("cnt", T.LongType()),
    T.StructField("m1", T.FloatType()),
    T.StructField("m2", T.DoubleType()),
])

FOO_ROWS = [
    (datetime(2000, 1, 1), "", ["a"], ["a", "b"], 1, 1.0, 1.0),
    (datetime(2000, 1, 2), "10.1", [], ["b", "c"], 1, 2.0, 2.0),
    (datetime(2000, 1, 3), "2", [""], ["d"], 1, 3.0, 3.0),
    (datetime(2001, 1, 1), "1", ["a"], [""], 1, 4.0, 4.0),
    (datetime(2001, 1, 2), "def", ["abc"], [], 1, 5.0, 5.0),
    (datetime(2001, 1, 3), "abc", None, None, 1, 6.0, 6.0),
]


@pytest.fixture(scope="module")
def reg(spark):
    r = DatasourceRegistry(spark)
    r.register("foo", spark.createDataFrame(FOO_ROWS, FOO_SCHEMA))
    r.register_lookup("lookyloo", {"a": "xa", "abc": "xabc",
                                   "nosuchkey": "mysteryvalue", "6": "x6"})
    return r


def test_sum_m1_having(spark, reg):
    # CalciteQueryTest.java:1981 — SELECT SUM(m1) FROM foo HAVING = 21
    out = compile_query({
        "queryType": "timeseries", "dataSource": "foo",
        "granularity": "all",
        "aggregations": [{"type": "doubleSum", "name": "m1_sum",
                          "fieldName": "m1"}],
    }, reg).collect()
    assert out[0]["m1_sum"] == 21.0


def test_groupby_dim1_exact_values(spark, reg):
    out = compile_query({
        "queryType": "groupBy", "dataSource": "foo", "granularity": "all",
        "dimensions": ["dim1"],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "limitSpec": {"type": "default",
                      "columns": [{"dimension": "dim1"}]},
    }, reg).collect()
    # SQL-compatible mode: '' is a real value, distinct from null
    assert [r["dim1"] for r in out] == ["", "1", "10.1", "2", "abc", "def"]
    assert all(r["cnt"] == 1 for r in out)


def test_mv_groupby_explodes_dim3(spark, reg):
    # MV groupBy: one row per element; null array -> null group;
    # [''] contributes the empty string; [] contributes null
    # (explode_outer on empty array)
    out = compile_query({
        "queryType": "groupBy", "dataSource": "foo", "granularity": "all",
        "dimensions": ["dim3"],
        "aggregations": [{"type": "count", "name": "n"}],
    }, reg).collect()
    got = {r["dim3"]: r["n"] for r in out}
    assert got == {"a": 1, "b": 2, "c": 1, "d": 1, "": 1, None: 2}


def test_mv_filter_matches_any_element(spark, reg):
    out = compile_query({
        "queryType": "scan", "dataSource": "foo", "columns": ["dim1"],
        "filter": {"type": "selector", "dimension": "dim3", "value": "b"},
        "orderBy": [{"columnName": "dim1", "order": "ascending"}],
    }, reg).collect()
    assert [r["dim1"] for r in out] == ["", "10.1"]


def test_lookup_function(spark, reg):
    out = druid_sql(spark, """
        SELECT dim1, LOOKUP(dim1, 'lookyloo') AS v FROM foo
    """, reg).collect()
    got = {r["dim1"]: r["v"] for r in out}
    assert got["abc"] == "xabc"
    assert got["def"] is None
    assert got[""] is None


def test_topn_m1_desc(spark, reg):
    out = compile_query({
        "queryType": "topN", "dataSource": "foo", "granularity": "all",
        "dimension": "dim1", "metric": "m1_sum", "threshold": 3,
        "aggregations": [{"type": "doubleSum", "name": "m1_sum",
                          "fieldName": "m1"}],
    }, reg).collect()
    assert [(r["dim1"], r["m1_sum"]) for r in out] == [
        ("abc", 6.0), ("def", 5.0), ("1", 4.0)]


def test_substring_projection_null_when_short(spark, reg):
    # testGroupByWithSelectProjections (CalciteQueryTest.java:2367):
    # SUBSTRING(dim1, 2) is null for strings shorter than 2
    out = compile_query({
        "queryType": "groupBy", "dataSource": "foo", "granularity": "all",
        "dimensions": [
            "dim1",
            {"type": "extraction", "dimension": "dim1",
             "outputName": "sub",
             "extractionFn": {"type": "substring", "index": 1}}],
        "aggregations": [{"type": "count", "name": "n"}],
        "limitSpec": {"type": "default",
                      "columns": [{"dimension": "dim1"}]},
    }, reg).collect()
    got = [(r["dim1"], r["sub"]) for r in out]
    assert got == [("", None), ("1", None), ("10.1", "0.1"),
                   ("2", None), ("abc", "bc"), ("def", "ef")]


def test_time_boundary_foo(spark, reg):
    out = compile_query({"queryType": "timeBoundary",
                         "dataSource": "foo"}, reg).first()
    assert out["minTime"] == datetime(2000, 1, 1)
    assert out["maxTime"] == datetime(2001, 1, 3)


def test_exact_count_distinct(spark, reg):
    # CalciteQueryTest testExactCountDistinct shape: COUNT(DISTINCT dim1)
    out = druid_sql(spark,
                    "SELECT COUNT(DISTINCT dim1) AS n FROM foo", reg).first()
    assert out["n"] == 6  # '' counts, null would not (none in dim1)


def test_approx_count_distinct_accuracy(spark):
    """hyperUnique/cardinality -> HLL++: within rsd bounds on a known
    cardinality (the driver's rows-only entries lean on this)."""
    r = DatasourceRegistry(spark)
    df = spark.range(50_000).select(
        (F.col("id") % 10_000).alias("k"),
        F.lit(datetime(2024, 1, 1)).alias("__time"))
    r.register("ids", df)
    out = compile_query({
        "queryType": "timeseries", "dataSource": "ids",
        "granularity": "all",
        "aggregations": [{"type": "cardinality", "name": "card",
                          "fields": ["k"], "byRow": True}],
    }, r).first()
    assert abs(out["card"] - 10_000) / 10_000 < 0.05


def test_search_over_mv_dim(spark, reg):
    # search explodes array dims and matches elements
    out = compile_query({
        "queryType": "search", "dataSource": "foo",
        "searchDimensions": ["dim3"],
        "query": {"type": "insensitive_contains", "value": "b"},
    }, reg).collect()
    got = {(r["dimension"], r["value"]): r["count"] for r in out}
    assert got == {("dim3", "b"): 2}


def test_visits_earliest_latest_by(spark):
    """visits fixture (FIXTURES.md §4, CalciteTests.java:410-415):
    EARLIEST/LATEST over hourly user visits."""
    r = DatasourceRegistry(spark)
    rows = [
        (datetime(2021, 1, 1, 1), "alice", "canada"),
        (datetime(2021, 1, 1, 2), "alice", "india"),
        (datetime(2021, 1, 1, 3), "bob", "canada"),
        (datetime(2021, 1, 2, 1), "alice", "usa"),
        (datetime(2021, 1, 2, 2), "bob", "usa"),
    ]
    r.register("visits", spark.createDataFrame(
        rows, "__time timestamp, user string, country string"))
    out = druid_sql(spark, """
        SELECT user,
               EARLIEST(country) AS first_country,
               LATEST(country) AS last_country
        FROM visits GROUP BY user
    """, r).orderBy("user").collect()
    assert [(x["user"], x["first_country"], x["last_country"])
            for x in out] == [("alice", "canada", "usa"),
                              ("bob", "canada", "usa")]


def test_numfoo_numeric_null_aggregation(spark):
    """numfoo (FIXTURES.md §2): numeric dims null on later rows —
    SQL-compatible mode aggregates ignore nulls, all-null groups sum
    to null (not 0), count(col) skips nulls."""
    r = DatasourceRegistry(spark)
    rows = [
        (datetime(2000, 1, 1), "a", 1.0, 7),
        (datetime(2000, 1, 2), "a", 1.7, 325323),
        (datetime(2000, 1, 3), "b", 0.0, 0),
        (datetime(2001, 1, 1), "b", None, None),
        (datetime(2001, 1, 2), "c", None, None),
    ]
    schema = T.StructType([
        T.StructField("__time", T.TimestampType()),
        T.StructField("dim4", T.StringType()),
        T.StructField("d1", T.DoubleType()),
        T.StructField("l1", T.LongType()),
    ])
    r.register("numfoo", spark.createDataFrame(rows, schema))
    out = compile_query({
        "queryType": "groupBy", "dataSource": "numfoo",
        "granularity": "all", "dimensions": ["dim4"],
        "aggregations": [
            {"type": "doubleSum", "name": "sd", "fieldName": "d1"},
            {"type": "longSum", "name": "sl", "fieldName": "l1"},
            {"type": "longMax", "name": "ml", "fieldName": "l1"},
            {"type": "count", "name": "n"},
        ],
        "limitSpec": {"type": "default",
                      "columns": [{"dimension": "dim4"}]},
    }, r).collect()
    got = [(x["dim4"], x["sd"], x["sl"], x["ml"], x["n"]) for x in out]
    assert got[0] == ("a", 2.7, 325330, 325323, 2)
    assert got[1] == ("b", 0.0, 0, 0, 2)       # null rows ignored in sum
    assert got[2] == ("c", None, None, None, 1)  # all-null -> null, not 0


def test_filter_empty_string_vs_null(spark, reg):
    # selector '' matches only the empty string, not null
    out = compile_query({
        "queryType": "timeseries", "dataSource": "foo",
        "granularity": "all",
        "filter": {"type": "selector", "dimension": "dim1", "value": ""},
        "aggregations": [{"type": "count", "name": "n"}],
    }, reg).first()
    assert out["n"] == 1
    # selector null on an MV dim matches the null row AND the empty
    # array row — Druid ingests [] as a no-value row (SURVEY §1.1)
    out = compile_query({
        "queryType": "timeseries", "dataSource": "foo",
        "granularity": "all",
        "filter": {"type": "selector", "dimension": "dim2", "value": None},
        "aggregations": [{"type": "count", "name": "n"}],
    }, reg).first()
    assert out["n"] == 2


def test_regexp_extract_golden(spark, reg):
    """CalciteQueryTest.java:7620 testRegexpExtract — group-0 default,
    NULL on no-match, over foo.dim1."""
    rows = {r["dim1"]: r["d"] for r in druid_sql(spark, """
        SELECT dim1, REGEXP_EXTRACT(dim1, '^[0-9]+') AS d FROM foo
    """, reg).collect()}
    assert rows == {"": None, "10.1": "10", "2": "2", "1": "1",
                    "def": None, "abc": None}


def test_union_all_queries(spark, reg):
    """CalciteQueryTest.java:2521 testUnionAllQueries — UNION ALL of
    the same table aggregates each branch."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        UNION ALL SELECT COUNT(*) AS c FROM foo
    """, reg).collect()
    assert sorted(r["c"] for r in out) == [6, 6]


def test_group_by_case_when(spark, reg):
    """CalciteQueryTest.java:3132 testGroupByCaseWhen shape: CASE over
    a dim feeding GROUP BY."""
    rows = {r["bucket"]: r["c"] for r in druid_sql(spark, """
        SELECT CASE WHEN dim1 = '' THEN 'empty'
                    WHEN dim1 RLIKE '^[0-9.]+$' THEN 'numeric'
                    ELSE 'word' END AS bucket,
               COUNT(*) AS c
        FROM foo GROUP BY 1
    """, reg).collect()}
    assert rows == {"empty": 1, "numeric": 3, "word": 2}


def test_concat_golden(spark, reg):
    """CalciteQueryTest.java:11508 testConcat — CONCAT/TEXTCAT null
    propagation in SQL-compatible mode."""
    rows = druid_sql(spark, """
        SELECT dim1, CONCAT(dim1, '-', dim1) AS c2,
               TEXTCAT(dim1, dim1) AS t2
        FROM foo WHERE dim1 = 'def'
    """, reg).collect()
    assert rows[0]["c2"] == "def-def" and rows[0]["t2"] == "defdef"


def test_extract_year_group(spark, reg):
    """EXTRACT(YEAR FROM __time) grouping (testTimeExtract family,
    CalciteQueryTest.java:10908 vicinity): 3 rows per year in foo."""
    rows = {int(r["y"]): r["c"] for r in druid_sql(spark, """
        SELECT EXTRACT(YEAR FROM __time) AS y, COUNT(*) AS c
        FROM foo GROUP BY 1
    """, reg).collect()}
    assert rows == {2000: 3, 2001: 3}


def test_latest_string_over_foo(spark, reg):
    """EARLIEST/LATEST string aggregation over the fixture's time
    order (EarliestLatestAnySqlAggregator)."""
    row = druid_sql(spark, """
        SELECT EARLIEST(dim1) AS first_d, LATEST(dim1) AS last_d FROM foo
    """, reg).first()
    assert row["first_d"] == "" and row["last_d"] == "abc"


def test_having_on_ratio(spark, reg):
    """CalciteQueryTest.java:2326 testHavingOnRatio (issue #4264):
    COUNT(*) FILTER(dim2 <> 'a') / COUNT(*) with HAVING ratio = 1.
    Ported via the NATIVE shape the SQL plans to — filtered agg over
    not(selector), expression post-agg, expression having — because
    the divergence under test is Druid's two-valued native NOT filter:
    null/empty dim2 rows COUNT as <> 'a' (reference expected rows
    include 'abc' whose dim2 is null and '10.1' whose dim2 is [])."""
    out = compile_query({
        "queryType": "groupBy", "dataSource": "foo",
        "granularity": "all", "dimensions": ["dim1"],
        "aggregations": [
            {"type": "filtered",
             "filter": {"type": "not",
                        "field": {"type": "selector",
                                  "dimension": "dim2", "value": "a"}},
             "aggregator": {"type": "count", "name": "a0"}},
            {"type": "count", "name": "a1"},
        ],
        "postAggregations": [
            {"type": "expression", "name": "ratio",
             "expression": "(\"a0\" / \"a1\")"}],
        "having": {"type": "equalTo", "aggregation": "ratio", "value": 1},
    }, reg).collect()
    assert {(r["dim1"], r["ratio"]) for r in out} == {
        ("10.1", 1), ("2", 1), ("abc", 1), ("def", 1)}


def test_groupby_sort_on_postagg_is_topn(spark, reg):
    """CalciteQueryTest.java:4688 testGroupByWithSortOnPostAggregation-
    Default: MIN+MAX post-agg ordered ascending with LIMIT — Druid
    plans an inverted-metric topN; rows are the three smallest."""
    out = druid_sql(spark, """
        SELECT dim1, MIN(m1) + MAX(m1) AS x
        FROM foo GROUP BY dim1 ORDER BY x LIMIT 3
    """, reg).collect()
    assert [(r["dim1"], r["x"]) for r in out] == [
        ("", 2.0), ("10.1", 4.0), ("2", 6.0)]


def test_case_filtered_aggregation_with_groupby(spark, reg):
    """CalciteQueryTest.java:4909 testCaseFilteredAggregationWithGroupBy:
    SUM(CASE WHEN dim1 <> '1' THEN 1 ELSE 0 END) + SUM(cnt) grouped by
    cnt -> one row (1, 11)."""
    out = druid_sql(spark, """
        SELECT cnt,
               SUM(CASE WHEN dim1 <> '1' THEN 1 ELSE 0 END) + SUM(cnt) AS s
        FROM foo GROUP BY cnt
    """, reg).collect()
    assert [(r["cnt"], r["s"]) for r in out] == [(1, 11)]


def test_nested_groupby(spark, reg):
    """CalciteQueryTest.java:6438 testNestedGroupBy: outer hour-floor
    groupBy over an inner groupBy datasource filtered to m1 = '5.0'
    (string-to-float coercion) -> one row for the 'def' document."""
    out = druid_sql(spark, """
        SELECT FLOOR(__time TO HOUR) AS __time, dim1, COUNT(m2) AS c
        FROM (
            SELECT MAX(__time) AS __time, m2, dim1
            FROM foo
            WHERE 1=1 AND m1 = '5.0'
            GROUP BY m2, dim1
        )
        GROUP BY FLOOR(__time TO HOUR), dim1
    """, reg).collect()
    assert [(r["__time"], r["dim1"], r["c"]) for r in out] == [
        (datetime(2001, 1, 2), "def", 1)]


def test_groupby_floor_cast(spark, reg):
    """CalciteQueryTest.java:8251 testGroupByFloor: FLOOR over
    CAST(dim1 AS FLOAT) — non-numeric strings cast to NULL (Druid
    casts never throw; the dialect must map CAST to try_cast under
    ANSI Spark), null group counts 3."""
    out = druid_sql(spark, """
        SELECT FLOOR(CAST(dim1 AS FLOAT)) AS f, COUNT(*) AS c
        FROM foo GROUP BY FLOOR(CAST(dim1 AS FLOAT))
    """, reg).collect()
    assert {(r["f"], r["c"]) for r in out} == {
        (None, 3), (1.0, 1), (2.0, 1), (10.0, 1)}


def test_left_right_string_operators(spark, reg):
    """CalciteQueryTest.java:12240 testLeftRightStringOperators."""
    out = druid_sql(spark, """
        SELECT dim1, LEFT(dim1, 2) AS l, RIGHT(dim1, 2) AS r
        FROM foo GROUP BY dim1
    """, reg).collect()
    assert {(r["dim1"], r["l"], r["r"]) for r in out} == {
        ("", "", ""), ("1", "1", "1"), ("10.1", "10", ".1"),
        ("2", "2", "2"), ("abc", "ab", "bc"), ("def", "de", "ef")}


def test_count_star_with_time_filter(spark, reg):
    """CalciteQueryTest.java:5468 testCountStarWithTimeFilter: the
    __time range becomes the query interval -> 3 rows in year 2000."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE __time >= TIMESTAMP '2000-01-01 00:00:00'
          AND __time < TIMESTAMP '2001-01-01 00:00:00'
    """, reg).collect()
    assert out[0]["c"] == 3


def test_filter_on_time_floor(spark, reg):
    """CalciteQueryTest.java:7872 testFilterOnTimeFloor: equality on
    FLOOR(__time TO MONTH) is the interval [month, month+1) -> the 3
    Jan-2000 rows (Feb 2000 has none)."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE FLOOR(__time TO MONTH) = TIMESTAMP '2000-01-01 00:00:00'
           OR FLOOR(__time TO MONTH) = TIMESTAMP '2000-02-01 00:00:00'
    """, reg).collect()
    assert out[0]["c"] == 3


def test_remove_useless_case_when(spark, reg):
    """CalciteQueryTest.java:5489 testRemoveUselessCaseWhen: a CASE
    wrapping a time range ORed with an empty decade -> still 3."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE
          CASE
            WHEN __time >= TIME_PARSE('2000-01-01 00:00:00',
                                      'yyyy-MM-dd HH:mm:ss')
                 AND __time < TIMESTAMP '2001-01-01 00:00:00'
            THEN true ELSE false
          END
        OR __time >= TIMESTAMP '2010-01-01 00:00:00'
           AND __time < TIMESTAMP '2011-01-01 00:00:00'
    """, reg).collect()
    assert out[0]["c"] == 3


def test_timeseries_descending_golden(spark, reg):
    """CalciteQueryTest.java:9147 testTimeseriesDescending: month
    buckets of SUM(cnt), descending."""
    out = druid_sql(spark, """
        SELECT gran, SUM(cnt) AS s FROM (
            SELECT FLOOR(__time TO MONTH) AS gran, cnt FROM foo
        ) AS x GROUP BY gran ORDER BY gran DESC
    """, reg).collect()
    assert [(r["gran"], r["s"]) for r in out] == [
        (datetime(2001, 1, 1), 3), (datetime(2000, 1, 1), 3)]


def test_min_max_avg_daily_count_with_limit(spark, reg):
    """CalciteQueryTest.java:6706 testMinMaxAvgDailyCountWithLimit:
    aggregates over an inner daily-count timeseries -> one row
    (1, 1, 1, epoch-of-last-day, 6)."""
    out = druid_sql(spark, """
        SELECT * FROM (
          SELECT max(cnt) AS mx, min(cnt) AS mn, avg(cnt) AS av,
                 TIME_EXTRACT(max(t), 'EPOCH') AS last_time,
                 count(1) AS num_days FROM (
              SELECT TIME_FLOOR(__time, 'P1D') AS t, count(1) AS cnt
              FROM foo GROUP BY 1
          )
        ) LIMIT 1
    """, reg).collect()
    r = out[0]
    assert (r["mx"], r["mn"], r["av"], r["last_time"], r["num_days"]) == \
        (1, 1, 1.0, 978480000, 6)


def test_textcat(spark, reg):
    """CalciteQueryTest.java:11633 testTextcat: 2-arg concat, and
    double-to-string CAST formats as '1.0' (Druid ExprEval string
    coercion of doubles keeps the decimal)."""
    out = druid_sql(spark, "SELECT textcat(dim1, dim1) AS dimX FROM foo",
                    reg).collect()
    assert sorted(r["dimX"] for r in out) == [
        "", "10.110.1", "11", "22", "abcabc", "defdef"]
    out2 = druid_sql(spark, """
        SELECT textcat(dim1, CAST(m2 AS VARCHAR)) AS dimX FROM foo
    """, reg).collect()
    assert sorted(r["dimX"] for r in out2) == [
        "1.0", "10.12.0", "14.0", "23.0", "abc6.0", "def5.0"]


def test_column_is_null_mv(spark, reg):
    """CalciteQueryTest.java:3711 testColumnIsNull: dim2 IS NULL counts
    the null row AND the empty-MV row (an empty multi-value row reads
    as null — SQL-compatible mode expects 2)."""
    out = druid_sql(spark, "SELECT COUNT(*) AS c FROM foo WHERE dim2 IS NULL",
                    reg).collect()
    assert out[0]["c"] == 2


def test_count_nullable_mv_column(spark, reg):
    """CalciteQueryTest.java:4087 testCountNullableColumn: COUNT(dim2)
    counts non-null non-empty MV rows -> 4 in SQL-compatible mode."""
    out = druid_sql(spark, "SELECT COUNT(dim2) AS c FROM foo",
                    reg).collect()
    assert out[0]["c"] == 4


def test_count_nullable_expression_mv(spark, reg):
    """CalciteQueryTest.java:4116 testCountNullableExpression: the CASE
    plans as a filtered count with an IN filter — selector semantics on
    the MV dim match any element -> 1 (only the ['abc'] row)."""
    out = druid_sql(spark, """
        SELECT COUNT(CASE WHEN dim2 = 'abc' THEN 'yes'
                          WHEN dim2 = 'def' THEN 'yes' END) AS c FROM foo
    """, reg).collect()
    assert out[0]["c"] == 1


def test_two_exact_count_distincts(spark, reg):
    """CalciteQueryTest.java:3819 testTwoExactCountDistincts: distinct
    dim1 counts '' as a value (6); distinct over the MV dim2 counts
    distinct element VALUES {'a', '', 'abc'} -> 3 (SQL-compatible)."""
    out = druid_sql(spark, """
        SELECT COUNT(DISTINCT dim1) AS a, COUNT(DISTINCT dim2) AS b
        FROM foo
    """, reg).collect()
    assert (out[0]["a"], out[0]["b"]) == (6, 3)


def test_groupby_nothing_literally_false_filter(spark, reg):
    """CalciteQueryTest.java:3895 testGroupByNothingWithLiterallyFalse
    Filter: WHERE 1 = 0 -> one row (0, null) for a no-group aggregate."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c, MAX(cnt) AS m FROM foo WHERE 1 = 0
    """, reg).collect()
    assert len(out) == 1
    assert out[0]["c"] == 0 and out[0]["m"] is None


def test_self_join_count(spark, reg):
    """CalciteQueryTest.java:3735 testSelfJoin: comma cross join of foo
    with itself -> 36 rows counted."""
    out = druid_sql(spark, "SELECT COUNT(*) AS c FROM foo x, foo y",
                    reg).collect()
    assert out[0]["c"] == 36


def test_count_distinct_of_substring(spark, reg):
    """CalciteQueryTest.java:7510 testCountDistinctOfSubstring: first
    chars of non-empty dim1 = {1, 2, d, a} -> 4."""
    out = druid_sql(spark, """
        SELECT COUNT(DISTINCT SUBSTRING(dim1, 1, 1)) AS c
        FROM foo WHERE dim1 <> ''
    """, reg).collect()
    assert out[0]["c"] == 4


def test_count_distinct_of_trim(spark, reg):
    """CalciteQueryTest.java:7550 testCountDistinctOfTrim: TRIM(BOTH
    ' ' FROM dim1) syntax variant; 5 distinct non-empty values."""
    out = druid_sql(spark, """
        SELECT COUNT(DISTINCT TRIM(BOTH ' ' FROM dim1)) AS c
        FROM foo WHERE TRIM(dim1) <> ''
    """, reg).collect()
    assert out[0]["c"] == 5


def test_silly_quarters(spark, reg):
    """CalciteQueryTest.java:7587 testSillyQuarters: arithmetic on
    EXTRACT(MONTH ...) groups all 6 rows (all January) into quarter 1."""
    out = druid_sql(spark, """
        SELECT CAST((EXTRACT(MONTH FROM __time) - 1) / 3 + 1 AS INTEGER)
                   AS quarter, COUNT(*) AS c
        FROM foo
        GROUP BY CAST((EXTRACT(MONTH FROM __time) - 1) / 3 + 1 AS INTEGER)
    """, reg).collect()
    assert [(r["quarter"], r["c"]) for r in out] == [(1, 6)]


def test_mv_filter_eq_and_in_sql(spark, reg):
    """docs/querying/multi-value-dimensions.md filter semantics through
    SQL: equality and IN on an MV dim match ANY element (the selector
    filter's behavior — processing/.../filter/SelectorFilter.java)."""
    out = druid_sql(spark,
                    "SELECT COUNT(*) AS c FROM foo WHERE dim3 = 'b'",
                    reg).collect()
    assert out[0]["c"] == 2
    out2 = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo WHERE dim3 IN ('b', 'd')
    """, reg).collect()
    assert out2[0]["c"] == 3


def test_in_filter_with_23_elements(spark, reg):
    """CalciteQueryTest.java:5208 testInFilterWith23Elements (Druid
    issue #4203 regression): a 23-element IN stays a single filter."""
    elements = ["abc", "def", "ghi"] + [f"dummy{i}" for i in range(20)]
    in_list = ", ".join(f"'{e}'" for e in elements)
    out = druid_sql(spark, f"""
        SELECT dim1, COUNT(*) AS c FROM foo
        WHERE dim1 IN ({in_list}) GROUP BY dim1 ORDER BY dim1
    """, reg).collect()
    assert [(r["dim1"], r["c"]) for r in out] == [("abc", 1), ("def", 1)]


def test_regexp_like_filter(spark, reg):
    """CalciteQueryTest.java:7705 testRegexpLikeFilter: REGEXP_LIKE on
    the raw dim and on a concat virtual column -> 3 rows."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE REGEXP_LIKE(dim1, '^1') OR REGEXP_LIKE('Z' || dim1, '^Z2')
    """, reg).collect()
    assert out[0]["c"] == 3


def test_count_star_complex_disjoint_time_filter(spark, reg):
    """CalciteQueryTest.java:5633 testCountStarWithComplexDisjointTime
    Filter: MV any-match on dim2='a' AND (a 2000 interval OR an
    intersected 2002 interval + dim1) -> 1."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE dim2 = 'a' and (
          (__time >= TIMESTAMP '2000-01-01 00:00:00'
           AND __time < TIMESTAMP '2001-01-01 00:00:00')
          OR (
            (__time >= TIMESTAMP '2002-01-01 00:00:00'
             AND __time < TIMESTAMP '2003-05-01 00:00:00')
            and (__time >= TIMESTAMP '2002-05-01 00:00:00'
                 AND __time < TIMESTAMP '2004-01-01 00:00:00')
            and dim1 = 'abc'
          )
        )
    """, reg).collect()
    assert out[0]["c"] == 1


def test_filter_on_time_extract(spark, reg):
    """CalciteQueryTest.java:8092 testFilterOnTimeExtract: YEAR/MONTH
    extraction equality filters -> the 3 rows of 2000-01."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE EXTRACT(YEAR FROM __time) = 2000
        AND EXTRACT(MONTH FROM __time) = 1
    """, reg).collect()
    assert out[0]["c"] == 3


def test_groupby_with_impossible_time_filter(spark, reg):
    """CalciteQueryTest.java:3944 testGroupByWithImpossibleTimeFilter:
    FLOOR(__time TO DAY) compared to a non-floor-aligned timestamp can
    never match — empty grouped result."""
    out = druid_sql(spark, """
        SELECT dim1, COUNT(*) AS c FROM foo
        WHERE FLOOR(__time TO DAY) = TIMESTAMP '2000-01-02 01:00:00'
        OR FLOOR(__time TO DAY) = TIMESTAMP '2000-01-02 02:00:00'
        GROUP BY 1
    """, reg).collect()
    assert out == []


def test_groupby_one_column_literally_false_filter(spark, reg):
    """CalciteQueryTest.java:3967 testGroupByOneColumnWithLiterallyFalse
    Filter: WHERE 1 = 0 with a GROUP BY produces ZERO rows (contrast
    with the no-group form, which produces one (0, null) row)."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c, MAX(cnt) AS m FROM foo
        WHERE 1 = 0 GROUP BY dim1
    """, reg).collect()
    assert out == []


def test_count_star_with_time_millisecond_filters(spark, reg):
    """CalciteQueryTest.java:5517 testCountStarWithTimeMillisecondFilters:
    millisecond-precision point + range time filters -> 1 row."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS c FROM foo
        WHERE __time = TIMESTAMP '2000-01-01 00:00:00.111'
        OR (__time >= TIMESTAMP '2000-01-01 00:00:00.888'
            AND __time < TIMESTAMP '2000-01-02 00:00:00.222')
    """, reg).collect()
    assert out[0]["c"] == 1


def test_filter_on_time_floor_comparison(spark, reg):
    """CalciteQueryTest.java:8048/8070 testFilterOnTimeFloorComparison
    (+Misaligned): FLOOR(__time TO MONTH) < ts counts all 2000-01 rows;
    a misaligned bound (00:00:01) must not change the answer."""
    for bound in ("2000-02-01 00:00:00", "2000-02-01 00:00:01"):
        out = druid_sql(spark, f"""
            SELECT COUNT(*) AS c FROM foo
            WHERE FLOOR(__time TO MONTH) < TIMESTAMP '{bound}'
        """, reg).collect()
        assert out[0]["c"] == 3


def test_expression_aggregations(spark, reg):
    """CalciteQueryTest.java:4982 testExpressionAggregations: expression
    virtual columns under aggregates, including MAX/MIN over
    CHARACTER_LENGTH(dim2) — an element-wise scalar over the MV dim
    (empty MV rows contribute null and drop out; SQL-compatible MIN is
    1.0 = strlen('a') + ln(1))."""
    import math

    out = druid_sql(spark, """
        SELECT
          SUM(cnt * 3) AS s3,
          LN(SUM(cnt) + SUM(m1)) AS lnsum,
          MOD(SUM(cnt), 4) AS md,
          SUM(CHARACTER_LENGTH(CAST(cnt * 10 AS VARCHAR))) AS slen,
          MAX(CHARACTER_LENGTH(dim2) + LN(m1)) AS mx,
          MIN(CHARACTER_LENGTH(dim2) + LN(m1)) AS mn
        FROM foo
    """, reg).collect()
    r = out[0]
    assert r["s3"] == 18 and r["md"] == 2 and r["slen"] == 12
    assert abs(r["lnsum"] - 3.295836866004329) < 1e-12
    assert abs(r["mx"] - (3.0 + math.log(5.0))) < 1e-12
    assert abs(r["mn"] - 1.0) < 1e-12


def test_count_star_long_column_float_literal_filters(spark, reg):
    """CalciteQueryTest.java:4379 testCountStarWithLongColumnFiltersOn
    FloatLiterals: float literals against the long cnt column — exact
    fractional bounds match nothing, whole-valued literals coerce."""
    cases = [
        ("cnt > 1.1 and cnt < 100000001.0", 0),
        ("cnt = 1.0", 6),
        ("cnt = 100000001.0", 0),
        ("cnt = 1.0 or cnt = 100000001.0", 6),
    ]
    for where, expected in cases:
        out = druid_sql(spark,
                        f"SELECT COUNT(*) AS c FROM foo WHERE {where}",
                        reg).collect()
        assert out[0]["c"] == expected, where


def test_count_distinct_of_case_when(spark, reg):
    """CalciteQueryTest.java:6041 testCountDistinctOfCaseWhen: CASE
    inside COUNT(DISTINCT) plans as filtered cardinality — 3 distinct
    m1 values >= 4 and 3 distinct dim1 values on those rows (the
    unique_dim1 sketch column variant needs the HLL ingest column the
    fixture doesn't carry; DS_HLL covers that path elsewhere)."""
    out = druid_sql(spark, """
        SELECT
          COUNT(DISTINCT CASE WHEN m1 >= 4 THEN m1 END) AS a,
          COUNT(DISTINCT CASE WHEN m1 >= 4 THEN dim1 END) AS b
        FROM foo
    """, reg).collect()
    assert (out[0]["a"], out[0]["b"]) == (3, 3)


def test_time_filter_on_long_column_millis_to_timestamp(spark, reg):
    """CalciteQueryTest.java:5965 testTimeseriesWithTimeFilterOnLong
    ColumnUsingMillisToTimestamp: MILLIS_TO_TIMESTAMP over a long
    metric, floored to YEAR — all six cnt=1 rows land in 1970."""
    out = druid_sql(spark, """
        SELECT FLOOR(MILLIS_TO_TIMESTAMP(cnt) TO YEAR) AS y,
               COUNT(*) AS c
        FROM foo
        WHERE MILLIS_TO_TIMESTAMP(cnt) >= TIMESTAMP '1970-01-01 00:00:00'
          AND MILLIS_TO_TIMESTAMP(cnt) < TIMESTAMP '1970-01-02 00:00:00'
        GROUP BY FLOOR(MILLIS_TO_TIMESTAMP(cnt) TO YEAR)
    """, reg).collect()
    assert len(out) == 1 and out[0]["c"] == 6
    assert str(out[0]["y"]).startswith("1970-01-01")


def test_avg_daily_count_distinct(spark, reg):
    """CalciteQueryTest.java:6783 testAvgDailyCountDistinct: AVG over a
    per-day APPROX_COUNT_DISTINCT subquery -> 1.0 (cnt is constant)."""
    out = druid_sql(spark, """
        SELECT AVG(u) AS avg_u
        FROM (SELECT FLOOR(__time TO DAY) AS d,
                     APPROX_COUNT_DISTINCT(cnt) AS u
              FROM foo GROUP BY 1)
    """, reg).collect()
    assert out[0]["avg_u"] == 1.0


def test_mv_groupby_explode_sql(spark, reg):
    """docs/querying/multi-value-dimensions.md grouping semantics via
    SQL: GROUP BY an MV dim explodes to one group per element value;
    null and empty MV rows contribute a null group."""
    out = druid_sql(spark,
                    "SELECT dim3, COUNT(*) AS c FROM foo GROUP BY dim3",
                    reg).collect()
    groups = sorted((r["dim3"], r["c"]) for r in out
                    if r["dim3"] is not None)
    assert groups == [("", 1), ("a", 1), ("b", 2), ("c", 1), ("d", 1)]
    assert [r["c"] for r in out if r["dim3"] is None] == [2]


def test_mv_groupby_filter_is_pre_explode(spark, reg):
    """Same doc, filter ordering: WHERE dim3 = 'b' selects ROWS with
    any element 'b', and the groupBy then explodes ALL their values
    (the t3 example's famous non-intuitive result)."""
    out = druid_sql(spark, """
        SELECT dim3, COUNT(*) AS c FROM foo
        WHERE dim3 = 'b' GROUP BY dim3 ORDER BY dim3
    """, reg).collect()
    assert [(r["dim3"], r["c"]) for r in out] == \
        [("a", 1), ("b", 2), ("c", 1)]


def test_exact_count_distinct_using_subquery(spark, reg):
    """CalciteQueryTest.java:6613 testExactCountDistinctUsingSubquery:
    inner GROUP BY on the MV dim2 explodes to 4 value groups (a, '',
    abc, null) whose cnt sums re-aggregate to (6, 4)."""
    out = druid_sql(spark, """
        SELECT SUM(cnt) AS s, COUNT(*) AS c
        FROM (SELECT dim2, SUM(cnt) AS cnt FROM foo GROUP BY dim2)
    """, reg).collect()
    assert (out[0]["s"], out[0]["c"]) == (6, 4)


def test_histogram_using_subquery(spark, reg):
    """CalciteQueryTest.java:7367 testHistogramUsingSubquery: histogram
    of per-dim2-value cnt sums (MV explode: a->2, ''->1, abc->1,
    null->2) -> {'1': 2, '2': 2} in SQL-compatible mode."""
    out = druid_sql(spark, """
        SELECT CAST(thecnt AS VARCHAR) AS h, COUNT(*) AS c
        FROM (SELECT dim2, SUM(cnt) AS thecnt FROM foo GROUP BY dim2)
        GROUP BY CAST(thecnt AS VARCHAR)
    """, reg).collect()
    assert sorted((r["h"], r["c"]) for r in out) == [("1", 2), ("2", 2)]


@pytest.fixture(scope="module")
def numfoo6(spark):
    """The full 6-row numfoo (DATASOURCE3, FIXTURES.md §2) in
    post-ingest presentation: scalar dim2 (single-value MVs read as
    strings, [] as null) plus nullable numeric dims d1/l1."""
    r = DatasourceRegistry(spark)
    rows = [
        (datetime(2000, 1, 1), "", "a", 1, 1.0, 7),
        (datetime(2000, 1, 2), "10.1", None, 1, 1.7, 325323),
        (datetime(2000, 1, 3), "2", "", 1, 0.0, 0),
        (datetime(2001, 1, 1), "1", "a", 1, None, None),
        (datetime(2001, 1, 2), "def", "abc", 1, None, None),
        (datetime(2001, 1, 3), "abc", None, 1, None, None),
    ]
    schema = T.StructType([
        T.StructField("__time", T.TimestampType()),
        T.StructField("dim1", T.StringType()),
        T.StructField("dim2", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("d1", T.DoubleType()),
        T.StructField("l1", T.LongType()),
    ])
    r.register("numfoo", spark.createDataFrame(rows, schema))
    return r


def test_filter_on_string_as_number(spark, numfoo6):
    """CalciteQueryTest.java:4480 testFilterOnStringAsNumber: comparing
    a string dim to a number coerces per row without throwing (Druid
    plans a NUMERIC bound; ExprEval never errors on coercion — the
    engine runs non-ANSI for exactly this contract)."""
    out = druid_sql(spark, """
        SELECT distinct dim1 FROM numfoo WHERE dim1 = 10 OR
        (floor(CAST(dim1 AS float)) = 10.00 and
         CAST(dim1 AS float) > 9 and CAST(dim1 AS float) <= 10.5)
    """, numfoo6).collect()
    assert [r["dim1"] for r in out] == ["10.1"]


def test_simple_aggregations(spark, numfoo6):
    """CalciteQueryTest.java:4589 testSimpleAggregations (SQL-compatible
    branch): COUNT over nullable string/numeric dims skips nulls, AVG
    over an all-null-tail double dim divides by the non-null count.
    Type divergence: Calcite types AVG(bigint) as BIGINT (1); Spark
    returns DOUBLE (1.0) — same value."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS a0, COUNT(cnt) AS a1, COUNT(dim1) AS a2,
               AVG(cnt) AS a3, SUM(cnt) AS a4,
               SUM(cnt) + MIN(cnt) + MAX(cnt) AS a5,
               COUNT(dim2) AS a6, COUNT(d1) AS a7, AVG(d1) AS a8
        FROM numfoo
    """, numfoo6).first()
    assert tuple(out) == (6, 6, 6, 1.0, 6, 8, 4, 3,
                          pytest.approx((1 + 1.7) / 3))


def test_count_star_on_common_table_expression(spark, numfoo6):
    """CalciteQueryTest.java:4161 testCountStarOnCommonTableExpression:
    the CTE inlines into one filtered count. The reference plans
    dim1_firstchar <> 'z' as not(selector) which MATCHES null rows
    (legacy two-valued filter semantics); standard SQL three-valued
    logic needs the explicit IS NULL arm for the same rows."""
    out = druid_sql(spark, """
        WITH beep (dim1_firstchar) AS
          (SELECT SUBSTRING(dim1, 1, 1) FROM numfoo WHERE dim2 = 'a')
        SELECT COUNT(*) AS n FROM beep
        WHERE dim1_firstchar <> 'z' OR dim1_firstchar IS NULL
    """, numfoo6).first()
    assert out["n"] == 2


def test_sum_of_string(spark, numfoo6):
    """CalciteQueryTest.java:5900 testSumOfString: SUM(CAST(dim1 AS
    INTEGER)) coerces '10.1'->10 (truncation through decimal, exact for
    longs past 2^53) and non-numeric strings -> null, summing to 13."""
    out = druid_sql(spark, """
        SELECT SUM(CAST(dim1 AS INTEGER)) AS s FROM numfoo
    """, numfoo6).first()
    assert out["s"] == 13


def test_group_and_filter_on_time_floor_with_time_zone(spark, reg):
    """CalciteQueryTest.java:8208 testGroupAndFilterOnTimeFloorWithTimeZone:
    the 4-arg TIME_FLOOR floors in the given zone and returns the UTC
    instant of the local bucket start; only the two rows that fall in
    LA-January-2000 survive (2000-01-01T00Z is still 1999-12-31 in LA)."""
    out = druid_sql(spark, """
        SELECT TIME_FLOOR(__time, 'P1M', NULL, 'America/Los_Angeles') AS t,
               COUNT(*) AS n
        FROM foo
        WHERE TIME_FLOOR(__time, 'P1M', NULL, 'America/Los_Angeles') =
              TIME_PARSE('2000-01-01 00:00:00', NULL, 'America/Los_Angeles')
           OR TIME_FLOOR(__time, 'P1M', NULL, 'America/Los_Angeles') =
              TIME_PARSE('2000-02-01 00:00:00', NULL, 'America/Los_Angeles')
        GROUP BY 1
    """, reg).collect()
    assert [(r["t"], r["n"]) for r in out] == [
        (datetime(2000, 1, 1, 8, 0), 2)]


def test_filter_on_time_extract_with_various_time_units(spark):
    """CalciteQueryTest.java testFilterOnTimeExtractWithVariousTimeUnits
    (foo4-style single row): the Calcite EXTRACT units Spark lacks —
    DECADE (year/10), CENTURY/MILLENNIUM (ceil(year/unit)), ISOYEAR
    (≈ year), MILLISECOND (millis-of-second), and ISO DOW — follow
    TimestampExtractExprMacro.java:120-154 exactly."""
    r = DatasourceRegistry(spark)
    r.register("foo4", spark.createDataFrame(
        [(datetime(2000, 1, 1, 0, 0, 0, 695000), 1)],  # Saturday
        T.StructType([T.StructField("__time", T.TimestampType()),
                      T.StructField("cnt", T.LongType())])))
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM foo4
        WHERE EXTRACT(YEAR FROM __time) = 2000
        AND EXTRACT(MILLISECOND FROM __time) = 695
        AND EXTRACT(ISODOW FROM __time) = 6
        AND EXTRACT(ISOYEAR FROM __time) = 2000
        AND EXTRACT(DECADE FROM __time) = 200
        AND EXTRACT(CENTURY FROM __time) = 20
        AND EXTRACT(MILLENNIUM FROM __time) = 2
    """, r).first()
    assert out["n"] == 1


def test_select_trim_family(spark, reg):
    """CalciteSelectQueryTest testSelectTrimFamily: every TRIM form
    plus BTRIM/LTRIM/RTRIM with explicit trim characters (Druid arg
    order LTRIM(s, chars) — Spark's legacy 2-arg form is swapped)."""
    out = druid_sql(spark, """
        SELECT TRIM(BOTH 'x' FROM 'xfoox') AS a,
               TRIM(TRAILING 'x' FROM 'xfoox') AS b,
               TRIM(' ' FROM ' foo ') AS c,
               TRIM(TRAILING FROM ' foo ') AS d,
               TRIM(' foo ') AS e,
               BTRIM(' foo ') AS f,
               BTRIM('xfoox', 'x') AS g,
               LTRIM(' foo ') AS h,
               LTRIM('xfoox', 'x') AS i,
               RTRIM(' foo ') AS j,
               RTRIM('xfoox', 'x') AS k,
               COUNT(*) AS n
        FROM foo
    """, reg).first()
    assert tuple(out) == ("foo", "xfoo", "foo", " foo", "foo", "foo",
                          "foo", "foo ", "foox", " foo", "xfoo", 6)


def test_select_pad_family(spark, reg):
    """CalciteSelectQueryTest testSelectPadFamily: LPAD/RPAD with and
    without the pad string (2-arg pads with spaces)."""
    out = druid_sql(spark, """
        SELECT LPAD('foo', 5, 'x') AS a, LPAD('foo', 2, 'x') AS b,
               LPAD('foo', 5) AS c, RPAD('foo', 5, 'x') AS d,
               RPAD('foo', 2, 'x') AS e, RPAD('foo', 5) AS f,
               COUNT(*) AS n
        FROM foo
    """, reg).first()
    assert tuple(out) == ("xxfoo", "fo", "  foo", "fooxx", "fo",
                          "foo  ", 6)


def test_bitwise_expressions(spark):
    """CalciteQueryTest testBitwiseExpressions (SQL-compatible branch):
    the scalar BITWISE_* family over numfoo's nullable longs, including
    exact IEEE-754 double<->long-bits reinterpretation (row 1's
    LONG_BITS_TO_DOUBLE(7) is the subnormal 3.5e-323)."""
    r = DatasourceRegistry(spark)
    rows = [(7, None, 1.0), (325323, 325323, 1.7), (0, 0, 0.0),
            (None, None, None), (None, None, None), (None, None, None)]
    r.register("numfoo", spark.createDataFrame(
        rows, T.StructType([T.StructField("l1", T.LongType()),
                            T.StructField("l2", T.LongType()),
                            T.StructField("d1", T.DoubleType())])))
    out = druid_sql(spark, """
        SELECT BITWISE_AND(l1, l2) AS a, BITWISE_OR(l1, l2) AS o,
               BITWISE_XOR(l1, l2) AS x, BITWISE_COMPLEMENT(l1) AS c,
               BITWISE_SHIFT_LEFT(l1, 2) AS sl,
               BITWISE_SHIFT_RIGHT(l1, 2) AS sr,
               BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(d1) AS db,
               BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(l1) AS ld
        FROM numfoo
    """, r).collect()
    got = [tuple(x) for x in out]
    assert got == [
        (None, None, None, -8, 28, 1, 4607182418800017408, 3.5e-323),
        (325323, 325323, 0, -325324, 1301292, 81330,
         4610334938539176755, 1.60731e-318),
        (0, 0, 0, -1, 0, 0, 0, 0.0),
        (None, None, None, None, None, None, None, None),
        (None, None, None, None, None, None, None, None),
        (None, None, None, None, None, None, None, None)]


def test_group_by_floor_with_order_by(spark, numfoo6):
    """CalciteQueryTest testGroupByFloorWithOrderBy: non-numeric dim1
    values floor to null (lenient cast) and DESC puts them last."""
    out = druid_sql(spark, """
        SELECT floor(CAST(dim1 AS float)) AS fl, COUNT(*) AS n
        FROM numfoo GROUP BY floor(CAST(dim1 AS float))
        ORDER BY fl DESC
    """, numfoo6).collect()
    assert [(None if r.fl is None else float(r.fl), r.n)
            for r in out] == [(10.0, 1), (2.0, 1), (1.0, 1), (None, 3)]


def test_filter_on_time_floor_misaligned(spark, numfoo6):
    """CalciteQueryTest testFilterOnTimeFloorMisaligned: comparing a
    month floor to a non-boundary instant can never match."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo
        WHERE floor(__time TO month) = TIMESTAMP '2000-01-01 00:00:01'
    """, numfoo6).first()
    assert out["n"] == 0


def test_filter_on_not_time_floor(spark, numfoo6):
    """CalciteQueryTest testFilterOnNotTimeFloor: <> and < against a
    month floor (all three 2000-01 rows survive both)."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo
        WHERE FLOOR(__time TO MONTH) <> TIMESTAMP '2001-01-01 00:00:00'
    """, numfoo6).first()
    assert out["n"] == 3
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo
        WHERE FLOOR(__time TO MONTH) < TIMESTAMP '2000-02-01 00:00:00'
    """, numfoo6).first()
    assert out["n"] == 3


def test_group_by_sort_push_down(spark, numfoo6):
    """CalciteQueryTest testGroupBySortPushDown: two-dim group with a
    limit ordered by the SECOND grouping dim."""
    out = druid_sql(spark, """
        SELECT dim2, dim1, SUM(cnt) AS s FROM numfoo
        GROUP BY dim2, dim1 ORDER BY dim1 LIMIT 4
    """, numfoo6).collect()
    assert [(r.dim2, r.dim1, r.s) for r in out] == [
        ("a", "", 1), ("a", "1", 1), (None, "10.1", 1), ("", "2", 1)]


def test_select_limit_wrapping(spark, numfoo6):
    """CalciteSelectQueryTest testSelectLimitWrapping(+OnTopOfOffset):
    the sqlOuterLimit context wraps the whole result in an outer LIMIT
    (DruidPlanner), composing with the query's own OFFSET/LIMIT."""
    out = druid_sql(spark, "SELECT dim1 FROM numfoo ORDER BY __time DESC",
                    numfoo6, context={"sqlOuterLimit": 2}).collect()
    assert [r.dim1 for r in out] == ["abc", "def"]
    out = druid_sql(spark,
                    "SELECT dim1 FROM numfoo ORDER BY __time DESC "
                    "OFFSET 1", numfoo6,
                    context={"sqlOuterLimit": 2}).collect()
    assert [r.dim1 for r in out] == ["def", "1"]
    out = druid_sql(spark,
                    "SELECT dim1 FROM numfoo ORDER BY __time DESC "
                    "LIMIT 1 OFFSET 1", numfoo6,
                    context={"sqlOuterLimit": 2}).collect()
    assert [r.dim1 for r in out] == ["def"]


def test_order_then_limit_then_filter(spark, numfoo6):
    """CalciteSelectQueryTest testOrderThenLimitThenFilter: the inner
    top-4-by-time limit applies BEFORE the outer filter."""
    out = druid_sql(spark, """
        SELECT dim1 FROM
        (SELECT __time, dim1 FROM numfoo ORDER BY __time DESC LIMIT 4)
        WHERE dim1 IN ('abc', 'def')
    """, numfoo6).collect()
    assert sorted(r.dim1 for r in out) == ["abc", "def"]


def test_projection_from_inner_limit_descending(spark, numfoo6):
    """testSelectProjectionFromSelectSingleColumnWithInnerLimitDescending:
    projection over an inner time-descending limit."""
    out = druid_sql(spark, """
        SELECT 'beep ' || dim1 AS b FROM
        (SELECT dim1 FROM numfoo ORDER BY __time DESC LIMIT 2)
    """, numfoo6).collect()
    assert sorted(r.b for r in out) == ["beep abc", "beep def"]


def test_use_approximate_count_distinct_context(spark, numfoo6):
    """PlannerConfig useApproximateCountDistinct: the context flag
    switches COUNT(DISTINCT) to the approximate aggregator (the
    reference's DEFAULT; this engine defaults to exact)."""
    exact = druid_sql(spark,
                      "SELECT COUNT(DISTINCT dim1) AS n FROM numfoo",
                      numfoo6).first()
    approx = druid_sql(spark,
                       "SELECT COUNT(DISTINCT dim1) AS n FROM numfoo",
                       numfoo6,
                       context={"useApproximateCountDistinct": True}
                       ).first()
    assert exact["n"] == 6
    assert 5 <= approx["n"] <= 7  # HLL++ is exact at this cardinality


def test_count_star_with_like_filter(spark, numfoo6):
    """CalciteQueryTest testCountStarWithLikeFilter: LIKE with a custom
    escape character ('%xb%' escape 'x' = contains literal 'b')."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo
        WHERE dim1 like 'a%' OR dim2 like '%xb%' escape 'x'
    """, numfoo6).first()
    assert out["n"] == 2


def test_group_by_with_sort_on_post_aggregation(spark, reg):
    """CalciteQueryTest testGroupByWithSortOnPostAggregationDefault:
    ordering by a post-aggregation (MIN+MAX) with a limit — the
    reference plans this as an inverted-metric topN."""
    out = druid_sql(spark, """
        SELECT dim1, MIN(m1) + MAX(m1) AS x FROM foo
        GROUP BY dim1 ORDER BY x LIMIT 3
    """, reg).collect()
    assert [(r.dim1, r.x) for r in out] == [
        ("", 2.0), ("10.1", 4.0), ("2", 6.0)]


def test_regexp_extract_filter_via_not_null(spark, numfoo6):
    """CalciteQueryTest testRegexpExtractFilterViaNotNullCheck: Druid
    REGEXP_EXTRACT returns NULL on no-match, so IS NOT NULL is the
    match predicate."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo
        WHERE REGEXP_EXTRACT(dim1, '^1') IS NOT NULL
           OR REGEXP_EXTRACT('Z' || dim1, '^Z2') IS NOT NULL
    """, numfoo6).first()
    assert out["n"] == 3


def test_count_star_with_degenerate_filter(spark, numfoo6):
    """testCountStarWithDegenerateFilter / NotOfDegenerateFilter: the
    always-true disjunction reduces to the dim2 selector; its negation
    matches nothing."""
    q = ("SELECT COUNT(*) AS n FROM numfoo "
         "WHERE dim2 = 'a' and {} (dim1 > 'a' OR dim1 < 'b')")
    assert druid_sql(spark, q.format(""), numfoo6).first()["n"] == 2
    assert druid_sql(spark, q.format("not"), numfoo6).first()["n"] == 0


def test_grouping_with_null_in_filter(spark, numfoo6):
    """testGroupingWithNullInFilter: IN (NULL) never matches."""
    out = druid_sql(spark,
                    "SELECT COUNT(*) AS n FROM numfoo "
                    "WHERE dim1 IN (NULL)", numfoo6).first()
    assert out["n"] == 0


def test_count_star_bound_filter_simplify_or(spark, numfoo6):
    """testCountStarWithBoundFilterSimplifyOr: adjacent lexicographic
    bounds merge; only 'abc' falls in ['a','b')."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo
        WHERE (dim1 >= 'a' and dim1 < 'b') OR dim1 = 'ab'
    """, numfoo6).first()
    assert out["n"] == 1


def test_sql_time_zone_context(spark, reg):
    """PlannerContext sqlTimeZone: with the session zone set to LA,
    bare TIME_FLOOR buckets and TIMESTAMP literals read as LA wall
    clock — same result as the explicit 4-arg form
    (testGroupAndFilterOnTimeFloorWithTimeZone via context)."""
    out = druid_sql(spark, """
        SELECT TIME_FLOOR(__time, 'P1M') AS t, COUNT(*) AS n
        FROM foo
        WHERE TIME_FLOOR(__time, 'P1M') = TIMESTAMP '2000-01-01 00:00:00'
           OR TIME_FLOOR(__time, 'P1M') = TIMESTAMP '2000-02-01 00:00:00'
        GROUP BY 1
    """, reg, context={"sqlTimeZone": "America/Los_Angeles"}).collect()
    assert [(r["t"], r["n"]) for r in out] == [
        (datetime(2000, 1, 1, 8, 0), 2)]


def test_sql_time_zone_floor_to_syntax(spark, reg):
    """sqlTimeZone must also reach the Calcite FLOOR(ts TO unit) spelling
    (its call rule floors in the session zone — ADVICE r4): grouping foo
    by LA-local month splits each January triplet across a December and
    a January bucket (2000-01-01 UTC is 1999-12-31T16:00 LA)."""
    out = druid_sql(spark, """
        SELECT FLOOR(__time TO MONTH) AS t, COUNT(*) AS n
        FROM foo GROUP BY 1 ORDER BY 1
    """, reg, context={"sqlTimeZone": "America/Los_Angeles"}).collect()
    assert [(r["t"], r["n"]) for r in out] == [
        (datetime(1999, 12, 1, 8, 0), 1),
        (datetime(2000, 1, 1, 8, 0), 2),
        (datetime(2000, 12, 1, 8, 0), 1),
        (datetime(2001, 1, 1, 8, 0), 2),
    ]


def test_sql_time_zone_non_unit_period(spark, reg):
    """sqlTimeZone with a non-unit ISO period ('PT12H' has no date_trunc
    unit): flooring happens on LA-local 12h boundaries, and the
    TIMESTAMP literal reads as LA wall clock (ADVICE r4: these were
    silently floored in UTC)."""
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM foo
        WHERE TIME_FLOOR(__time, 'PT12H')
              = TIMESTAMP '1999-12-31 12:00:00'
    """, reg, context={"sqlTimeZone": "America/Los_Angeles"}).first()
    assert out["n"] == 1


def test_sql_time_zone_ceil(spark, reg):
    """CEIL(ts TO unit) (lowered as TIME_CEIL) honors
    sqlTimeZone: 2000-01-02 UTC is 2000-01-01T16:00 LA, ceiling to
    2000-02-01 LA = 2000-02-01T08:00 UTC."""
    out = druid_sql(spark, """
        SELECT CEIL(__time TO MONTH) AS t FROM foo
        WHERE __time = TIMESTAMP '2000-01-01 16:00:00'
    """, reg, context={"sqlTimeZone": "America/Los_Angeles"}).collect()
    assert [r["t"] for r in out] == [datetime(2000, 2, 1, 8, 0)]


def test_sql_time_zone_explicit_tz_wins(spark, reg):
    """A 4-arg TIME_FLOOR with its own timezone uses it, not the
    sqlTimeZone: flooring stays LA-local even with a Tokyo session
    zone."""
    out = druid_sql(spark, """
        SELECT TIME_FLOOR(__time, 'P1M', NULL, 'America/Los_Angeles') AS t,
               COUNT(*) AS n
        FROM foo GROUP BY 1 ORDER BY 1 LIMIT 1
    """, reg, context={"sqlTimeZone": "Asia/Tokyo"}).collect()
    assert [(r["t"], r["n"]) for r in out] == [
        (datetime(1999, 12, 1, 8, 0), 1)]


def test_select_distinct_with_cascade_extraction_filter(spark, numfoo6):
    """CalciteSelectQueryTest testSelectDistinctWithCascadeExtractionFilter:
    nested substrings cascade ('def' -> 'ef' -> 'e') OR a dim2 match."""
    out = druid_sql(spark, """
        SELECT distinct dim1 FROM numfoo
        WHERE substring(substring(dim1, 2), 1, 1) = 'e' OR dim2 = 'a'
    """, numfoo6).collect()
    assert sorted(r.dim1 for r in out) == ["", "1", "def"]


def test_select_distinct_with_strlen_filter(spark, numfoo6):
    """testSelectDistinctWithStrlenFilter: length predicate plus its
    string-cast twin coerced back to a number."""
    out = druid_sql(spark, """
        SELECT distinct dim1 FROM numfoo
        WHERE CHARACTER_LENGTH(dim1) = 3
           OR CAST(CHARACTER_LENGTH(dim1) AS varchar) = 3
    """, numfoo6).collect()
    assert sorted(r.dim1 for r in out) == ["abc", "def"]


def test_timestamp_diff(spark, numfoo6):
    """CalciteQueryTest testTimestampDiff: all nine TIMESTAMPDIFF units
    over the first two foo rows."""
    out = druid_sql(spark, """
        SELECT TIMESTAMPDIFF(DAY, TIMESTAMP '1999-01-01 00:00:00', __time) AS a,
               TIMESTAMPDIFF(DAY, __time, DATE '2001-01-01') AS b,
               TIMESTAMPDIFF(HOUR, TIMESTAMP '1999-12-31 01:00:00', __time) AS c,
               TIMESTAMPDIFF(MINUTE, TIMESTAMP '1999-12-31 23:58:03', __time) AS d,
               TIMESTAMPDIFF(SECOND, TIMESTAMP '1999-12-31 23:59:03', __time) AS e,
               TIMESTAMPDIFF(MONTH, TIMESTAMP '1999-11-01 00:00:00', __time) AS f,
               TIMESTAMPDIFF(YEAR, TIMESTAMP '1996-11-01 00:00:00', __time) AS g,
               TIMESTAMPDIFF(QUARTER, TIMESTAMP '1996-10-01 00:00:00', __time) AS h,
               TIMESTAMPDIFF(WEEK, TIMESTAMP '1998-10-01 00:00:00', __time) AS i
        FROM numfoo ORDER BY __time LIMIT 2
    """, numfoo6).collect()
    assert [tuple(r) for r in out] == [
        (365, 366, 23, 1, 57, 2, 3, 13, 65),
        (366, 365, 47, 1441, 86457, 2, 3, 13, 65)]


def test_timestamp_ceil(spark, numfoo6):
    """CalciteQueryTest testTimestampCeil: CEIL TO DAY is the identity
    on a boundary and rounds up otherwise."""
    out = druid_sql(spark, """
        SELECT CEIL(TIMESTAMP '2000-01-01 00:00:00' TO DAY) AS a,
               CEIL(TIMESTAMP '2000-01-01 01:00:00' TO DAY) AS b
        FROM numfoo LIMIT 1
    """, numfoo6).first()
    assert out["a"] == datetime(2000, 1, 1)
    assert out["b"] == datetime(2000, 1, 2)


def test_nvl_columns(spark, numfoo6):
    """CalciteQueryTest testNvlColumns (SQL-compatible branch): NVL
    falls back per row; the empty string is NOT null."""
    out = druid_sql(spark, """
        SELECT NVL(dim2, dim1) AS v, COUNT(*) AS n
        FROM numfoo GROUP BY NVL(dim2, dim1)
    """, numfoo6).collect()
    assert sorted((r.v, r.n) for r in out) == [
        ("", 1), ("10.1", 1), ("a", 2), ("abc", 2)]


def test_grouping_sets(spark, numfoo6):
    """CalciteQueryTest testGroupingSets: four grouping sets over
    (COALESCE'd dim2, month floor) with the GROUPING indicator."""
    out = druid_sql(spark, """
        SELECT dim2, gran, SUM(cnt) AS s, GROUPING(dim2, gran) AS g
        FROM (SELECT FLOOR(__time TO MONTH) AS gran,
                     COALESCE(dim2, '') dim2, cnt FROM numfoo) AS x
        GROUP BY GROUPING SETS ( (dim2, gran), (dim2), (gran), () )
    """, numfoo6).collect()
    got = {(r.dim2, r.gran, r.s, r.g) for r in out}
    assert got == {
        ("", datetime(2000, 1, 1), 2, 0),
        ("", datetime(2001, 1, 1), 1, 0),
        ("a", datetime(2000, 1, 1), 1, 0),
        ("a", datetime(2001, 1, 1), 1, 0),
        ("abc", datetime(2001, 1, 1), 1, 0),
        ("", None, 3, 1), ("a", None, 2, 1), ("abc", None, 1, 1),
        (None, datetime(2000, 1, 1), 3, 2),
        (None, datetime(2001, 1, 1), 3, 2),
        (None, None, 6, 3)}


def test_group_by_rollup_and_cube(spark, numfoo6):
    """CalciteQueryTest testGroupByRollup / testGroupByCube: ROLLUP
    yields detail + per-dim2 + grand total (9 rows); CUBE adds the
    per-gran set (11 rows, same as the explicit grouping sets)."""
    base = """
        SELECT dim2, gran, SUM(cnt) AS s
        FROM (SELECT FLOOR(__time TO MONTH) AS gran,
                     COALESCE(dim2, '') dim2, cnt FROM numfoo) AS x
        GROUP BY {} (dim2, gran)
    """
    rollup = {(r.dim2, r.gran, r.s)
              for r in druid_sql(spark, base.format("ROLLUP"),
                                 numfoo6).collect()}
    detail = {
        ("", datetime(2000, 1, 1), 2), ("", datetime(2001, 1, 1), 1),
        ("a", datetime(2000, 1, 1), 1), ("a", datetime(2001, 1, 1), 1),
        ("abc", datetime(2001, 1, 1), 1)}
    per_dim2 = {("", None, 3), ("a", None, 2), ("abc", None, 1)}
    per_gran = {(None, datetime(2000, 1, 1), 3),
                (None, datetime(2001, 1, 1), 3)}
    total = {(None, None, 6)}
    assert rollup == detail | per_dim2 | total
    cube = {(r.dim2, r.gran, r.s)
            for r in druid_sql(spark, base.format("CUBE"),
                               numfoo6).collect()}
    assert cube == detail | per_dim2 | per_gran | total


def test_filtered_time_aggregators(spark, numfoo6):
    """CalciteQueryTest testFilteredTimeAggregators: FILTER clauses
    with time bounds tighter than the row filter."""
    out = druid_sql(spark, """
        SELECT
          SUM(cnt) FILTER(WHERE __time >= TIMESTAMP '2000-01-01 00:00:00'
                            AND __time <  TIMESTAMP '2000-02-01 00:00:00') AS a,
          SUM(cnt) FILTER(WHERE __time >= TIMESTAMP '2000-01-01 00:00:01'
                            AND __time <  TIMESTAMP '2000-02-01 00:00:00') AS b,
          SUM(cnt) FILTER(WHERE __time >= TIMESTAMP '2001-01-01 00:00:00'
                            AND __time <  TIMESTAMP '2001-02-01 00:00:00') AS c
        FROM numfoo
        WHERE __time >= TIMESTAMP '2000-01-01 00:00:00'
          AND __time < TIMESTAMP '2001-02-01 00:00:00'
    """, numfoo6).first()
    assert tuple(out) == (3, 2, 3)


def test_group_by_extract_year(spark, numfoo6):
    """testGroupByExtractYear + testGroupByFormatYearAndMonth (note the
    reference's mixed-case TIME_FORMAt — function names are
    case-insensitive)."""
    out = druid_sql(spark, """
        SELECT EXTRACT(YEAR FROM __time) AS yr, SUM(cnt) AS s
        FROM numfoo GROUP BY EXTRACT(YEAR FROM __time) ORDER BY 1
    """, numfoo6).collect()
    assert [(r.yr, r.s) for r in out] == [(2000, 3), (2001, 3)]
    out = druid_sql(spark, """
        SELECT TIME_FORMAt(__time, 'yyyy MM') AS yr, SUM(cnt) AS s
        FROM numfoo GROUP BY TIME_FORMAt(__time, 'yyyy MM') ORDER BY 1
    """, numfoo6).collect()
    assert [(r.yr, r.s) for r in out] == [("2000 01", 3), ("2001 01", 3)]


def test_group_by_string_length(spark, numfoo6):
    """CalciteQueryTest testGroupByStringLength."""
    out = druid_sql(spark, """
        SELECT CHARACTER_LENGTH(dim1) AS l, COUNT(*) AS n
        FROM numfoo GROUP BY CHARACTER_LENGTH(dim1)
    """, numfoo6).collect()
    assert sorted((r.l, r.n) for r in out) == [
        (0, 1), (1, 2), (3, 2), (4, 1)]


def test_timeseries_with_limit(spark, numfoo6):
    """testTimeseriesWithLimit: a LIMIT over monthly buckets (no
    ordering — any single bucket is valid; Druid returns the first
    chronologically, Spark any; assert membership)."""
    out = druid_sql(spark, """
        SELECT gran, SUM(cnt) AS s
        FROM (SELECT floor(__time TO month) AS gran, cnt FROM numfoo) x
        GROUP BY gran LIMIT 1
    """, numfoo6).collect()
    assert len(out) == 1
    assert (out[0]["gran"], out[0]["s"]) in {
        (datetime(2000, 1, 1), 3), (datetime(2001, 1, 1), 3)}


def test_repeated_identical_virtual_expression_grouping(spark, numfoo6):
    """testRepeatedIdenticalVirtualExpressionGrouping: CASE x WHEN NULL
    never matches (NULL = NULL is unknown), so both columns are
    constant TRUE and collapse to one group."""
    out = druid_sql(spark, """
        SELECT
          CASE dim1 WHEN NULL THEN FALSE ELSE TRUE END AS col_a,
          CASE dim2 WHEN NULL THEN FALSE ELSE TRUE END AS col_b
        FROM numfoo GROUP BY 1, 2
    """, numfoo6).collect()
    assert [(r.col_a, r.col_b) for r in out] == [(True, True)]


# ---------------------------------------------------------------------------
# Round-5 tranche: COUNT(*)/time-filter, expression grouping, and
# groupBy ordering/aliasing families from CalciteQueryTest.java.
# ---------------------------------------------------------------------------


def test_count_star_with_long_column_filters(spark, reg):
    # testCountStarWithLongColumnFilters
    out = druid_sql(spark, "SELECT COUNT(*) AS n FROM druid.foo "
                           "WHERE cnt >= 3 OR cnt = 1", reg).first()
    assert out["n"] == 6


def test_count_star_long_filters_on_float_literals(spark, reg):
    # testCountStarWithLongColumnFiltersOnFloatLiterals — long/float
    # literal comparisons never truncate
    q = "SELECT COUNT(*) AS n FROM druid.foo WHERE {}"
    cases = [
        ("cnt > 1.1 and cnt < 100000001.0", 0),
        ("cnt = 1.0", 6),
        ("cnt = 100000001.0", 0),
        ("cnt = 1.0 or cnt = 100000001.0", 6),
    ]
    for cond, want in cases:
        assert druid_sql(spark, q.format(cond), reg).first()["n"] == want


def test_count_star_with_single_point_in_time(spark, reg):
    # testCountStarWithSinglePointInTime
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE __time = TIMESTAMP '2000-01-01 00:00:00'
    """, reg).first()
    assert out["n"] == 1


def test_count_star_with_two_points_in_time(spark, reg):
    # testCountStarWithTwoPointsInTime — INTERVAL arithmetic on a
    # timestamp literal
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE __time = TIMESTAMP '2000-01-01 00:00:00'
           OR __time = TIMESTAMP '2000-01-01 00:00:00' + INTERVAL '1' DAY
    """, reg).first()
    assert out["n"] == 2


def test_count_star_complex_disjoint_time_filter(spark, reg):
    # testCountStarWithComplexDisjointTimeFilter
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE dim2 = 'a' and (
          (__time >= TIMESTAMP '2000-01-01 00:00:00'
           AND __time < TIMESTAMP '2001-01-01 00:00:00')
          OR (
            (__time >= TIMESTAMP '2002-01-01 00:00:00'
             AND __time < TIMESTAMP '2003-05-01 00:00:00')
            and (__time >= TIMESTAMP '2002-05-01 00:00:00'
             AND __time < TIMESTAMP '2004-01-01 00:00:00')
            and dim1 = 'abc'
          ))
    """, reg).first()
    assert out["n"] == 1


def test_count_star_not_of_complex_disjoint_time_filter(spark, reg):
    # testCountStarWithNotOfComplexDisjointTimeFilter
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE not (dim2 = 'a' and (
            (__time >= TIMESTAMP '2000-01-01 00:00:00'
             AND __time < TIMESTAMP '2001-01-01 00:00:00')
            OR (
              (__time >= TIMESTAMP '2002-01-01 00:00:00'
               AND __time < TIMESTAMP '2004-01-01 00:00:00')
              and (__time >= TIMESTAMP '2002-05-01 00:00:00'
               AND __time < TIMESTAMP '2003-05-01 00:00:00')
              and dim1 = 'abc'
            )))
    """, reg).first()
    # ANSI note: rows with NULL dim2 satisfy NOT(dim2='a' AND ...) only
    # when the conjunction is FALSE, which here needs the time clause;
    # the reference's 5 includes them via native-NOT null matching for
    # the out-of-range disjunct — on this data both modes agree
    assert out["n"] == 5


def test_count_star_with_time_and_dim_filter(spark, reg):
    # testCountStarWithTimeAndDimFilter (adapted with the AllowNulls
    # disjunct: bare <> drops NULL dim2 rows under ANSI, see
    # test_golden_join tranche note)
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE (dim2 <> 'a' OR dim2 IS NULL)
        and __time BETWEEN TIMESTAMP '2000-01-01 00:00:00'
            AND TIMESTAMP '2000-12-31 23:59:59.999'
    """, reg).first()
    assert out["n"] == 2


def test_count_star_with_time_or_dim_filter(spark, reg):
    # testCountStarWithTimeOrDimFilter (same adaptation)
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE (dim2 <> 'a' OR dim2 IS NULL)
        or __time BETWEEN TIMESTAMP '2000-01-01 00:00:00'
            AND TIMESTAMP '2000-12-31 23:59:59.999'
    """, reg).first()
    assert out["n"] == 5


def test_count_star_time_filter_string_literals(spark, reg):
    # testCountStarWithTimeFilterUsingStringLiterals — bare string
    # timestamps in several spellings
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM druid.foo
        WHERE __time >= '2000-01-01 00:00:00'
              AND __time < '2001-01-01T00:00:00'
        OR __time >= '2001-02-01' AND __time < '2001-02-02'
        OR __time BETWEEN '2001-03-01' AND '2001-03-02'
    """, reg).first()
    assert out["n"] == 3


def test_count_distinct_and_arithmetic(spark, reg):
    # testCountDistinct + testCountDistinctArithmetic (exact COUNT
    # DISTINCT; the hyperUnique column is served by the exact path) —
    # over the MV dim2, DISTINCT counts element values: a, '', abc
    out = druid_sql(spark, """
        SELECT
          SUM(cnt) AS s,
          COUNT(DISTINCT dim2) AS d,
          CAST(COUNT(DISTINCT dim2) AS FLOAT) AS df,
          SUM(cnt) / COUNT(DISTINCT dim2) AS q,
          SUM(cnt) / COUNT(DISTINCT dim2) + 3 AS qp,
          CAST(SUM(cnt) AS FLOAT) / CAST(COUNT(DISTINCT dim2) AS FLOAT)
            + 3 AS qf
        FROM druid.foo
    """, reg).first()
    assert (out["s"], out["d"], out["df"]) == (6, 3, 3.0)
    assert int(out["q"]) == 2 and int(out["qp"]) == 5
    assert out["qf"] == 5.0


def test_count_non_null_column(spark, reg):
    # testCountNonNullColumn
    out = druid_sql(spark, "SELECT COUNT(cnt) AS n FROM druid.foo",
                    reg).first()
    assert out["n"] == 6


def test_group_by_long_and_ordinal_and_alias(spark, reg):
    # testGroupByLong / testGroupByOrdinal / testGroupByAndOrderByAlias
    for q in (
        "SELECT cnt AS c, COUNT(*) AS n FROM druid.foo GROUP BY cnt",
        "SELECT cnt AS c, COUNT(*) AS n FROM druid.foo GROUP BY 1",
        "SELECT cnt AS theCnt, COUNT(*) AS n FROM druid.foo "
        "GROUP BY theCnt ORDER BY theCnt ASC",
    ):
        out = druid_sql(spark, q, reg).collect()
        assert [(r[0], r[1]) for r in out] == [(1, 6)]


def test_group_by_float_and_double(spark, reg):
    # testGroupByFloat / testGroupByDouble
    for col in ("m1", "m2"):
        out = druid_sql(
            spark, f"SELECT {col} AS v, COUNT(*) AS n FROM druid.foo "
                   f"GROUP BY {col}", reg).collect()
        assert sorted((float(r.v), r.n) for r in out) == [
            (1.0, 1), (2.0, 1), (3.0, 1), (4.0, 1), (5.0, 1), (6.0, 1)]


def test_column_comparison_mixed_types(spark, reg):
    # testColumnComparison (sqlCompatible): '' does not coerce to 0,
    # so only the '2' row satisfies m1 - 1 = dim1
    out = druid_sql(spark, """
        SELECT dim1, m1, COUNT(*) AS n FROM druid.foo
        WHERE m1 - 1 = dim1 GROUP BY dim1, m1
    """, reg).collect()
    assert [(r.dim1, float(r.m1), r.n) for r in out] == [("2", 3.0, 1)]


def test_group_by_case_when_of_triple_and(spark, reg):
    # testGroupByCaseWhenOfTripleAnd (sqlCompatible)
    out = druid_sql(spark, """
        SELECT
          CASE WHEN m1 > 1 AND m1 < 5 AND cnt = 1 THEN 'x' ELSE NULL END
            AS v, COUNT(*) AS n
        FROM druid.foo
        GROUP BY 1
    """, reg).collect()
    assert sorted(((r.v or "<n>"), r.n) for r in out) == [
        ("<n>", 3), ("x", 3)]


def test_expression_filtering_and_grouping(spark, reg):
    # testExpressionFilteringAndGrouping — values pinned numerically
    # (the reference surfaces FLOAT, Spark's FLOOR yields LONG)
    out = druid_sql(spark, """
        SELECT
          FLOOR(m1 / 2) * 2 AS v,
          COUNT(*) AS n
        FROM druid.foo
        WHERE FLOOR(m1 / 2) * 2 > -1
        GROUP BY FLOOR(m1 / 2) * 2
        ORDER BY 1 DESC
    """, reg).collect()
    assert [(float(r.v), r.n) for r in out] == [
        (6.0, 1), (4.0, 2), (2.0, 2), (0.0, 1)]


def test_empty_string_equality_nullif(spark, numfoo6):
    # testEmptyStringEquality (sqlCompatible): NULLIF(dim2,'a') = ''
    # matches only the one true empty-string row
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM numfoo WHERE NULLIF(dim2, 'a') = ''
    """, numfoo6).first()
    assert out["n"] == 1


def test_coalesce_columns(spark, numfoo6):
    # testCoalesceColumns (sqlCompatible)
    out = druid_sql(spark, """
        SELECT COALESCE(dim2, dim1) AS v, COUNT(*) AS n FROM numfoo
        GROUP BY COALESCE(dim2, dim1)
    """, numfoo6).collect()
    assert sorted((r.v, r.n) for r in out) == [
        ("", 1), ("10.1", 1), ("a", 2), ("abc", 2)]


def test_expression_counts(spark, numfoo6):
    # testExpressionCounts (sqlCompatible): COUNT skips the NULL
    # results of string functions over NULL dim2
    out = druid_sql(spark, """
        SELECT
         COUNT(reverse(dim2)) AS a,
         COUNT(left(dim2, 5)) AS b,
         COUNT(strpos(dim2, 'a')) AS c
        FROM numfoo
    """, numfoo6).first()
    assert (out["a"], out["b"], out["c"]) == (4, 4, 4)


def test_group_by_limit_wrapping(spark, numfoo6):
    # testGroupByLimitWrapping (sqlCompatible branch): sqlOuterLimit
    # context wraps the ordered groupBy
    out = druid_sql(spark, """
        SELECT dim1, dim2, COUNT(*) AS n FROM numfoo
        GROUP BY dim1, dim2 ORDER BY dim1 DESC
    """, numfoo6, context={"sqlOuterLimit": 2}).collect()
    assert [(r.dim1, r.dim2, r.n) for r in out] == [
        ("def", "abc", 1), ("abc", None, 1)]


# ---------------------------------------------------------------------------
# Round-5 tranche (cont.): EARLIEST/LATEST/ANY aggregators over numeric
# nulls, bitwise aggregators, filtered aggregations, nested groupBys.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def numfoo_full(spark):
    """numfoo with the full numeric-dim complement (CalciteTests
    RAW_ROWS1_WITH_NUMERIC_DIMS): l1/l2/d1/d2/f1/f2 nullable, m1
    metric, scalar post-ingest dim2."""
    r = DatasourceRegistry(spark)
    rows = [
        (datetime(2000, 1, 1), "", "a", 1, 1.0,
         1.0, None, 1.0, None, 7, None),
        (datetime(2000, 1, 2), "10.1", None, 1, 2.0,
         1.7, 1.7, 0.1, 0.1, 325323, 325323),
        (datetime(2000, 1, 3), "2", "", 1, 3.0,
         0.0, 0.0, 0.0, 0.0, 0, 0),
        (datetime(2001, 1, 1), "1", "a", 1, 4.0,
         None, None, None, None, None, None),
        (datetime(2001, 1, 2), "def", "abc", 1, 5.0,
         None, None, None, None, None, None),
        (datetime(2001, 1, 3), "abc", None, 1, 6.0,
         None, None, None, None, None, None),
    ]
    schema = T.StructType([
        T.StructField("__time", T.TimestampType()),
        T.StructField("dim1", T.StringType()),
        T.StructField("dim2", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("m1", T.FloatType()),
        T.StructField("d1", T.DoubleType()),
        T.StructField("d2", T.DoubleType()),
        T.StructField("f1", T.FloatType()),
        T.StructField("f2", T.FloatType()),
        T.StructField("l1", T.LongType()),
        T.StructField("l2", T.LongType()),
    ])
    r.register("numfoo", spark.createDataFrame(rows, schema))
    return r


def test_earliest_aggregators(spark, numfoo_full):
    # testEarliestAggregators — __time-ordered and explicit-timestamp
    # (EARLIEST_BY over MILLIS_TO_TIMESTAMP(l1); min l1 = 0 -> row 3)
    out = druid_sql(spark, """
        SELECT EARLIEST(cnt) AS a, EARLIEST(m1) AS b,
               EARLIEST(dim1, 10) AS c,
               EARLIEST(cnt + 1) AS d, EARLIEST(m1 + 1) AS e,
               EARLIEST(dim1 || CAST(cnt AS VARCHAR), 10) AS f,
               EARLIEST_BY(cnt, MILLIS_TO_TIMESTAMP(l1)) AS g,
               EARLIEST_BY(m1, MILLIS_TO_TIMESTAMP(l1)) AS h,
               EARLIEST_BY(dim1, MILLIS_TO_TIMESTAMP(l1), 10) AS i,
               EARLIEST_BY(cnt + 1, MILLIS_TO_TIMESTAMP(l1)) AS j,
               EARLIEST_BY(m1 + 1, MILLIS_TO_TIMESTAMP(l1)) AS k,
               EARLIEST_BY(dim1 || CAST(cnt AS VARCHAR),
                           MILLIS_TO_TIMESTAMP(l1), 10) AS l
        FROM druid.numfoo
    """, numfoo_full).first()
    assert tuple(out) == (1, 1.0, "", 2, 2.0, "1",
                          1, 3.0, "2", 2, 4.0, "21")


def test_earliest_aggregators_numeric_nulls(spark, numfoo_full):
    # testEarliestAggregatorsNumericNulls — first row by time carries
    # the values
    out = druid_sql(spark, """
        SELECT EARLIEST(l1) AS a, EARLIEST(d1) AS b, EARLIEST(f1) AS c
        FROM druid.numfoo
    """, numfoo_full).first()
    assert tuple(out) == (7, 1.0, 1.0)


def test_first_latest_aggregators_skip_nulls(spark, numfoo_full):
    # testFirstLatestAggregatorsSkipNulls (sqlCompatible branch)
    out = druid_sql(spark, """
        SELECT EARLIEST(dim1, 32) AS a, LATEST(l1) AS b,
               LATEST(d1) AS c, LATEST(f1) AS d
        FROM druid.numfoo
        WHERE dim1 IS NOT NULL AND l1 IS NOT NULL
          AND d1 IS NOT NULL AND f1 is NOT NULL
    """, numfoo_full).first()
    assert tuple(out) == ("", 0, 0.0, 0.0)


def test_any_aggregators_on_heap_numeric_nulls(spark, numfoo_full):
    # testAnyAggregatorsOnHeapNumericNulls
    out = druid_sql(spark, """
        SELECT ANY_VALUE(l1) AS a, ANY_VALUE(d1) AS b, ANY_VALUE(f1) AS c
        FROM druid.numfoo
    """, numfoo_full).first()
    assert tuple(out) == (7, 1.0, 1.0)


def test_any_aggregators_does_not_skip_nulls(spark, numfoo_full):
    # testAnyAggregatorsDoesNotSkipNulls (sqlCompatible branch): the
    # l2/d2/f2 columns are null on the first row and ANY returns it
    out = druid_sql(spark, """
        SELECT ANY_VALUE(dim1, 32) AS a, ANY_VALUE(l2) AS b,
               ANY_VALUE(d2) AS c, ANY_VALUE(f2) AS d
        FROM druid.numfoo
    """, numfoo_full).first()
    assert out["a"] == ""
    # ANY is free to return any row's value; the reference's buffer
    # implementation returns the first (null). Spark's any_value
    # likewise does not skip nulls.
    assert out["b"] is None and out["c"] is None and out["d"] is None


def test_bitwise_aggregators_timeseries(spark, numfoo_full):
    # testBitwiseAggregatorsTimeseries (sqlCompatible): over l1
    # {7, 325323, 0} (nulls skipped)
    out = druid_sql(spark, """
        SELECT BIT_AND(l1) AS a, BIT_OR(l1) AS b, BIT_XOR(l1) AS c
        FROM druid.numfoo
    """, numfoo_full).first()
    assert tuple(out) == (0, 325327, 325324)


def test_bitwise_aggregators_group_by(spark, numfoo_full):
    """testBitwiseAggregatorsGroupBy — DOCUMENTED DIVERGENCE on
    BIT_AND: the reference at this version seeds its expression
    accumulator with 0, so single-element BIT_AND groups return 0
    ('a' group {7} -> 0); this engine returns the mathematically
    correct fold (7), matching later reference versions. OR/XOR and
    the all-null group agree in both."""
    out = druid_sql(spark, """
        SELECT dim2, BIT_AND(l1) AS a, BIT_OR(l1) AS b, BIT_XOR(l1) AS c
        FROM druid.numfoo GROUP BY 1 ORDER BY 4
    """, numfoo_full).collect()
    got = {("<n>" if r.dim2 is None else r.dim2): (r.a, r.b, r.c)
           for r in out}
    assert got == {
        "abc": (None, None, None),
        "": (0, 0, 0),
        "a": (7, 7, 7),          # reference (this version): (0, 7, 7)
        "<n>": (325323, 325323, 325323),  # reference: (0, ., .)
    }
    # nulls-first ordering on the xor column
    assert [r.dim2 for r in out][0] == "abc"


def test_filtered_aggregations(spark, reg):
    # testFilteredAggregations (sqlCompatible branch) — twelve
    # aggregates mixing CASE, FILTER, and COUNT DISTINCT
    out = druid_sql(spark, """
        SELECT
          SUM(case dim1 when 'abc' then cnt end) AS c1,
          SUM(case dim1 when 'abc' then null else cnt end) AS c2,
          SUM(case substring(dim1, 1, 1) when 'a' then cnt end) AS c3,
          COUNT(dim2) filter(WHERE dim1 <> '1') AS c4,
          COUNT(CASE WHEN dim1 <> '1' THEN 'dummy' END) AS c5,
          SUM(CASE WHEN dim1 <> '1' THEN 1 ELSE 0 END) AS c6,
          SUM(cnt) filter(WHERE dim2 = 'a') AS c7,
          SUM(case when dim1 <> '1' then cnt end)
            filter(WHERE dim2 = 'a') AS c8,
          SUM(CASE WHEN dim1 <> '1' THEN cnt ELSE 0 END) AS c9,
          MAX(CASE WHEN dim1 <> '1' THEN cnt END) AS c10,
          COUNT(DISTINCT CASE WHEN dim1 <> '1' THEN m1 END) AS c11,
          SUM(cnt) filter(WHERE dim2 = 'a' AND dim1 = 'b') AS c12
        FROM druid.foo
    """, reg).first()
    assert tuple(out) == (1, 5, 1, 3, 5, 5, 2, 1, 5, 1, 5, None)


def test_filtered_aggregation_with_not_in(spark, reg):
    # testFilteredAggregationWithNotIn (sqlCompatible branch)
    out = druid_sql(spark, """
        SELECT
        COUNT(*) filter(WHERE dim1 NOT IN ('1')) AS a,
        COUNT(dim2) filter(WHERE dim1 NOT IN ('1')) AS b
        FROM druid.foo
    """, reg).first()
    assert tuple(out) == (5, 3)


def test_double_nested_group_by(spark, reg):
    # testDoubleNestedGroupBy (sqlCompatible: 4 dim2 groups — null,
    # '', 'a', 'abc' via MV explode)
    out = druid_sql(spark, """
        SELECT SUM(cnt) AS s, COUNT(*) AS n FROM (
          SELECT dim2, SUM(t1.cnt) cnt FROM (
            SELECT dim1, dim2, COUNT(*) cnt
            FROM druid.foo GROUP BY dim1, dim2
          ) t1
          GROUP BY dim2
        ) t2
    """, reg).first()
    assert (out["s"], out["n"]) == (6, 4)


def test_exact_count_distinct_with_grouping_and_other_aggs(spark, reg):
    # testExactCountDistinctWithGroupingAndOtherAggregators
    # (sqlCompatible branch, MV dim2 explodes to element groups)
    out = druid_sql(spark, """
        SELECT dim2, SUM(cnt) AS s, COUNT(distinct dim1) AS d
        FROM druid.foo GROUP BY dim2
    """, reg).collect()
    got = {(r.dim2 if r.dim2 is not None else "<n>"): (r.s, r.d)
           for r in out}
    assert got == {"<n>": (2, 2), "": (1, 1), "a": (2, 2),
                   "abc": (1, 1)}


def test_group_by_time_and_other_dimension(spark, reg):
    # testGroupByTimeAndOtherDimension (sqlCompatible branch): nulls
    # first under ORDER BY dim2 ASC
    out = druid_sql(spark, """
        SELECT dim2, gran, SUM(cnt) AS s
        FROM (SELECT FLOOR(__time TO MONTH) AS gran, dim2, cnt
              FROM druid.foo) AS x
        GROUP BY dim2, gran
        ORDER BY dim2, gran
    """, reg).collect()
    assert [(r.dim2, r.gran, r.s) for r in out] == [
        (None, datetime(2000, 1, 1), 1), (None, datetime(2001, 1, 1), 1),
        ("", datetime(2000, 1, 1), 1), ("a", datetime(2000, 1, 1), 1),
        ("a", datetime(2001, 1, 1), 1), ("abc", datetime(2001, 1, 1), 1)]


def test_concat_group(spark, reg):
    # testConcatGroup (first query): repeated-column concat grouping
    out = druid_sql(spark, """
        SELECT CONCAT(dim1, '-', dim1, '_', dim1) as dimX
        FROM foo GROUP BY 1
    """, reg).collect()
    assert sorted(r.dimX for r in out) == [
        "-_", "1-1_1", "10.1-10.1_10.1", "2-2_2", "abc-abc_abc",
        "def-def_def"]


def test_group_by_select_and_order_by_projections(spark, reg):
    # testGroupByWithSelectAndOrderByProjections — order by an
    # expression not in the select list; SUBSTRING null-when-short
    out = druid_sql(spark, """
        SELECT dim1, SUBSTRING(dim1, 2) AS s
        FROM druid.foo
        GROUP BY dim1
        ORDER BY CHARACTER_LENGTH(dim1) DESC, dim1
    """, reg).collect()
    assert [(r.dim1, r.s) for r in out] == [
        ("10.1", "0.1"), ("abc", "bc"), ("def", "ef"),
        ("1", None), ("2", None), ("", None)]


def test_substring_from_for_syntax(spark, reg):
    # Calcite's standard SUBSTRING(x FROM s FOR l) spelling carries the
    # same SubstringDimExtractionFn NULL-when-short contract as the
    # comma form
    out = druid_sql(spark, """
        SELECT dim1, SUBSTRING(dim1 FROM 2 FOR 1) AS s
        FROM druid.foo ORDER BY dim1
    """, reg).collect()
    assert [(r.dim1, r.s) for r in out] == [
        ("", None), ("1", None), ("10.1", "0"), ("2", None),
        ("abc", "b"), ("def", "e")]


def test_substring_literal_containing_from(spark, reg):
    # ADVICE r5: the FROM/FOR-to-comma rewrite must not touch string
    # literals inside the argument (only the FROM-form's own keywords)
    out = druid_sql(spark, """
        SELECT SUBSTRING('ab FROM cd', 1, 4) AS s FROM druid.foo LIMIT 1
    """, reg).first()
    assert out["s"] == "ab F"


def test_substring_nested_calls(spark, reg):
    # ADVICE r5: inner SUBSTRING calls get the NULL contract too (the
    # rewriter re-scans inside its own replacement)
    out = druid_sql(spark, """
        SELECT dim1, SUBSTRING(SUBSTRING(dim1, 2), 1, 1) AS s
        FROM druid.foo ORDER BY dim1
    """, reg).collect()
    assert [(r.dim1, r.s) for r in out] == [
        ("", None), ("1", None), ("10.1", "0"), ("2", None),
        ("abc", "b"), ("def", "e")]


def test_substring_in_where_position(spark, reg):
    # SUBSTRING inside a filter predicate (the rewrite is global, not
    # select-list-only — ADVICE r5 asked for WHERE-position coverage)
    out = druid_sql(spark, """
        SELECT dim1 FROM druid.foo
        WHERE SUBSTRING(dim1, 1, 1) = 'a' ORDER BY dim1
    """, reg).collect()
    assert [r.dim1 for r in out] == ["abc"]
