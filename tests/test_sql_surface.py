"""Druid SQL surface tests: inlined Druid functions + dialect
translation (SURVEY.md §2.13) — modeled on the reference's
CalciteQueryTest golden pattern but oracle-checked inline."""

from apache_druid_spark.sql.dialect import druid_sql, translate


def _one(spark, expr, registry=None):
    return druid_sql(spark, f"SELECT {expr} AS v",
                     registry).collect()[0]["v"]


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_time_floor_hour(spark):
    assert str(_one(spark, "TIME_FLOOR(TIMESTAMP '2024-03-15 13:45:10', 'PT1H')")) \
        == "2024-03-15 13:00:00"


def test_time_floor_month_multiple(spark):
    assert str(_one(spark, "TIME_FLOOR(TIMESTAMP '2024-05-02 00:00:00', 'P3M')")) \
        == "2024-04-01 00:00:00"


def test_time_ceil(spark):
    assert str(_one(spark, "TIME_CEIL(TIMESTAMP '2024-03-15 13:45:10', 'PT1H')")) \
        == "2024-03-15 14:00:00"
    assert str(_one(spark, "TIME_CEIL(TIMESTAMP '2024-03-15 13:00:00', 'PT1H')")) \
        == "2024-03-15 13:00:00"


def test_time_shift(spark):
    assert str(_one(spark, "TIME_SHIFT(TIMESTAMP '2024-01-31 00:00:00', 'P1M', 1)")) \
        == "2024-02-29 00:00:00"
    assert str(_one(spark, "TIME_SHIFT(TIMESTAMP '2024-03-15 12:00:00', 'PT6H', -2)")) \
        == "2024-03-15 00:00:00"


def _sql_one(spark, expr):
    return druid_sql(spark, f"SELECT {expr} AS v").collect()[0]["v"]


def test_time_extract_parse_format(spark):
    # lowered by the dialect's time rules, not registered UDFs
    assert _sql_one(spark, "TIME_EXTRACT(TIMESTAMP '2024-03-15 13:45:10', 'HOUR')") == 13
    assert _sql_one(spark, "TIME_FORMAT(TIME_PARSE('2024-03-15T13:45:10'), 'yyyy-MM')") == "2024-03"
    assert _sql_one(spark, "TIMESTAMP_TO_MILLIS(MILLIS_TO_TIMESTAMP(1700000000000))") == 1700000000000


def test_mv_functions(spark):
    assert _one(spark, "MV_LENGTH(array('a','b','c'))") == 3
    assert _one(spark, "MV_OFFSET(array('a','b','c'), 1)") == "b"
    assert _one(spark, "MV_ORDINAL(array('a','b','c'), 1)") == "a"
    assert _one(spark, "MV_CONTAINS(array('a','b'), 'b')") is True
    assert _one(spark, "MV_OVERLAP(array('a','b'), array('b','z'))") is True
    assert _one(spark, "MV_OFFSET_OF(array('a','b'), 'b')") == 1
    assert _one(spark, "MV_TO_STRING(array('a','b'), '-')") == "a-b"
    assert _one(spark, "STRING_TO_MV('a-b-c', '-')") == ["a", "b", "c"]
    assert _one(spark, "MV_FILTER_ONLY(array('a','b','c'), array('a','c'))") == ["a", "c"]
    assert _one(spark, "MV_FILTER_NONE(array('a','b','c'), array('a','c'))") == ["b"]


def test_scalar_shims(spark):
    assert _one(spark, "TEXTCAT('a', 'b')") == "ab"
    assert _one(spark, "CONTAINS_STRING('hello', 'ell')") is True
    assert _one(spark, "ICONTAINS_STRING('HELLO', 'ell')") is True
    assert _one(spark, "SAFE_DIVIDE(1.0, 0.0)") is None
    assert _one(spark, "7 div 2") == 3
    assert _one(spark, "BITWISE_AND(12, 10)") == 8
    assert _one(spark, "IPV4_STRINGIFY(IPV4_PARSE('10.1.2.3'))") == "10.1.2.3"
    assert _one(spark, "PARSE_LONG('42')") == 42


def test_lookup_sql_function(spark, registry):
    assert _one(spark, "LOOKUP('abc', 'lookyloo')", registry) == "xabc"
    assert _one(spark, "LOOKUP('zzz', 'lookyloo')", registry) is None


def test_lookup_inline_cap_falls_back_to_join(spark):
    """A lookup above the 10k inline cap must NOT become a map(...)
    SQL literal (megabyte statement + full driver collect at scale) —
    it rewrites to a correlated scalar subquery over the
    broadcast-hinted lookup view, and stays correct (VERDICT r8
    missing #4)."""
    from apache_druid_spark.model.datasource import DatasourceRegistry
    from pyspark.sql import functions as F

    r = DatasourceRegistry(spark)
    big = (spark.range(100_000)
           .select(F.col("id").cast("string").alias("k"),
                   F.concat(F.lit("v"), F.col("id")).alias("v")))
    r.register_lookup("biglkp", big)
    r.register("lkp_probe", spark.createDataFrame(
        [("7",), ("99999",), ("nope",)], "key string").withColumn(
        "__time", F.lit("2024-01-01").cast("timestamp")))
    plan = _analyzed(druid_sql(
        spark, "SELECT LOOKUP(key, 'biglkp') AS v FROM lkp_probe", r))
    assert "map(" not in plan and "scalar-subquery" in plan
    assert len(plan) < 2000, len(plan)
    out = druid_sql(spark,
                    "SELECT key, LOOKUP(key, 'biglkp') AS v "
                    "FROM lkp_probe ORDER BY key", r).collect()
    assert [(x["key"], x["v"]) for x in out] == [
        ("7", "v7"), ("99999", "v99999"), ("nope", None)]


def test_translate_earliest_latest():
    out = translate("SELECT EARLIEST(x), LATEST(y), EARLIEST_BY(a, t) FROM f")
    assert "min_by(x, `__time`)" in out
    assert "max_by(y, `__time`)" in out
    assert "min_by(a, t)" in out


def test_translate_respects_strings():
    out = translate("SELECT 'EARLIEST(x)' AS s, LATEST(y) FROM f")
    assert "'EARLIEST(x)'" in out  # literal untouched
    assert "max_by(y, `__time`)" in out


def test_translate_approx():
    out = translate("SELECT APPROX_COUNT_DISTINCT_DS_HLL(x), APPROX_QUANTILE_DS(y, 0.5) FROM f")
    assert "approx_count_distinct(x)" in out
    assert "percentile_approx(y, 0.5)" in out


def test_druid_sql_end_to_end(spark, registry, foo):
    df = druid_sql(spark, """
        SELECT dim1, EARLIEST(m1) AS first_m1, LATEST(m1) AS last_m1
        FROM foo GROUP BY dim1 ORDER BY dim1 LIMIT 2
    """, registry)
    rows = df.collect()
    assert rows[0]["dim1"] == "" and rows[0]["first_m1"] == 1.0


def test_druid_sql_time_floor_groupby(spark, registry, foo):
    df = druid_sql(spark, """
        SELECT TIME_FLOOR(__time, 'P1Y') AS y, SUM(m1) AS s
        FROM foo GROUP BY 1 ORDER BY 1
    """, registry)
    rows = df.collect()
    assert [r["s"] for r in rows] == [6.0, 15.0]


def test_bloom_filter_test_sql(spark, registry):
    from apache_druid_spark.functions.bloom import bloom_build, bloom_contains
    from apache_druid_spark.sql.dialect import druid_sql
    ser = bloom_build(["abc", "def"], m_bits=256)
    hits = druid_sql(spark, f"""
        SELECT dim1 FROM foo
        WHERE BLOOM_FILTER_TEST(CAST(dim1 AS VARCHAR), '{ser}')
    """, registry).collect()
    got = sorted(r["dim1"] for r in hits)
    want = sorted(v for v in ["", "10.1", "2", "1", "def", "abc"]
                  if bloom_contains(v, ser))
    assert got == want and "abc" in got and "def" in got


def test_ds_hll_builds_mergeable_state(spark, registry):
    """DS_HLL -> hll_sketch_agg (real DataSketches state), finalized by
    HLL_SKETCH_ESTIMATE; HLL_SKETCH_UNION_AGG merges stored state."""
    from apache_druid_spark.sql.dialect import druid_sql

    inner = druid_sql(spark, """
        SELECT n_regionkey, DS_HLL(n_name) AS sk
        FROM nation GROUP BY n_regionkey
    """, registry)
    assert dict(inner.dtypes)["sk"] == "binary"
    inner.createOrReplaceTempView("__hll_state")
    out = druid_sql(spark, """
        SELECT HLL_SKETCH_ESTIMATE(HLL_SKETCH_UNION_AGG(sk)) AS uniq
        FROM __hll_state
    """, registry)
    assert out.collect()[0]["uniq"] == 25


def test_ds_theta_state_and_set_ops(spark, registry):
    """DS_THETA -> theta_sketch_agg (real DataSketches theta state);
    THETA_SKETCH_INTERSECT/UNION/NOT run on state, THETA_SKETCH_ESTIMATE
    finalizes (SketchSetPostAggregator semantics); exact below 4k."""
    from apache_druid_spark.sql.dialect import druid_sql

    out = druid_sql(spark, """
        SELECT
          CAST(THETA_SKETCH_ESTIMATE(THETA_SKETCH_INTERSECT(
            DS_THETA(CASE WHEN n_regionkey < 3 THEN n_name END),
            DS_THETA(CASE WHEN n_regionkey > 1 THEN n_name END)))
            AS BIGINT) AS i,
          CAST(THETA_SKETCH_ESTIMATE(THETA_SKETCH_UNION(
            DS_THETA(CASE WHEN n_regionkey < 3 THEN n_name END),
            DS_THETA(CASE WHEN n_regionkey > 1 THEN n_name END)))
            AS BIGINT) AS u,
          CAST(THETA_SKETCH_ESTIMATE(THETA_SKETCH_NOT(
            DS_THETA(CASE WHEN n_regionkey < 3 THEN n_name END),
            DS_THETA(CASE WHEN n_regionkey > 1 THEN n_name END)))
            AS BIGINT) AS d
        FROM nation
    """, registry)
    row = out.collect()[0]
    # regions 0,1,2 = 15 nations; 2,3,4 = 15; overlap region 2 = 5
    assert (row["i"], row["u"], row["d"]) == (5, 25, 10)


def test_sum0_and_new_scalar_shims(spark, registry):
    from apache_druid_spark.sql.dialect import druid_sql

    out = druid_sql(spark, """
        SELECT SUM0(CASE WHEN n_name = 'NOPE' THEN 1 END) AS z,
               TRUNCATE(-3.789, 1) AS t,
               IPV4_MATCH('192.168.0.55', '192.168.0.0/24') AS m,
               HUMAN_READABLE_DECIMAL_FORMAT(999) AS hf,
               ARRAY_TO_STRING(MV_TO_ARRAY(STRING_TO_MV('x,y', ',')), '-')
                 AS mv
        FROM nation
    """, registry)
    row = out.collect()[0]
    assert (row["z"], row["t"], row["m"], row["hf"], row["mv"]) == \
        (0, -3.7, True, "999", "x-y")


def test_explain_plan_for(spark, registry):
    import json

    from apache_druid_spark.sql.dialect import druid_sql

    row = druid_sql(spark, """
        EXPLAIN PLAN FOR
        SELECT n_regionkey, COUNT(*) AS cnt
        FROM nation GROUP BY 1
    """, registry).first()
    assert "HashAggregate" in row["PLAN"] or "Aggregate" in row["PLAN"]
    assert "nation" in row["PLAN"]
    res = json.loads(row["RESOURCES"])
    assert {"name": "nation", "type": "DATASOURCE"} in res
    assert json.loads(row["ATTRIBUTES"])["statementType"] == "SELECT"


def test_sql_sees_datasources_registered_after_first_call(spark, registry):
    """A publish/compaction mid-session must be queryable by the next
    druid_sql call (view cache refreshes on table-set change), and the
    internal __segment partition column must not leak into SQL."""
    from pyspark.sql import functions as F

    from apache_druid_spark.sql.dialect import druid_sql

    druid_sql(spark, "SELECT 1 AS x", registry).collect()  # prime cache
    late = (registry.table("nation")
            .select("n_nationkey", "n_name",
                    F.lit("2024-01-01T00").alias("__segment")))
    registry.register("late_published", late)
    try:
        rows = druid_sql(spark, "SELECT * FROM late_published "
                                "ORDER BY n_nationkey LIMIT 2", registry)
        assert "__segment" not in rows.columns
        assert rows.count() == 2
    finally:
        registry._tables.pop("late_published", None)


def test_array_literal_and_scalar_shims_r4(spark, registry):
    """Round-4 dialect additions: Calcite ARRAY[...] literals, Druid
    REGEXP_EXTRACT semantics (group 0 default, NULL on no-match),
    ARRAY_PREPEND arg order, 1-arg TRUNC/TRUNCATE, DECODE_BASE64_UTF8,
    TIME_IN_INTERVAL."""
    from apache_druid_spark.sql.dialect import druid_sql

    row = druid_sql(spark, """
        SELECT ARRAY_LENGTH(ARRAY[ARRAY[1], ARRAY[2, 3]]) AS nested_len,
               ARRAY_TO_STRING(ARRAY_PREPEND(0, ARRAY[1, 2]), ',') AS prep,
               REGEXP_EXTRACT('ab12', '[0-9]+') AS rx_whole,
               REGEXP_EXTRACT('abcd', '[0-9]+') AS rx_null,
               REGEXP_EXTRACT('ab12', '([a-z]+)([0-9]+)', 1) AS rx_g1,
               TRUNC(-3.77, 1) AS trunc2,
               TRUNCATE(9.99) AS trunc1,
               DECODE_BASE64_UTF8('aGk=') AS b64,
               TIME_IN_INTERVAL(TIMESTAMP '2024-01-06',
                                '2024-01-05/2024-01-08') AS tii,
               'ARRAY[kept]' AS lit
    """, registry).first()
    assert row["nested_len"] == 2
    assert row["prep"] == "0,1,2"
    assert row["rx_whole"] == "12" and row["rx_null"] is None
    assert row["rx_g1"] == "ab"
    assert row["trunc2"] == -3.7 and row["trunc1"] == 9.0
    assert row["b64"] == "hi" and row["tii"] is True
    assert row["lit"] == "ARRAY[kept]"  # string literals untouched
