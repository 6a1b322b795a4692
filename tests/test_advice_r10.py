"""Regression tests for the round-9 advisor findings (ADVICE.md r9)
and the round-9 verdict polish items (VERDICT.md r9 wrong #1/#2).

1. medium — view inlining under a context drops an explicit alias
   (``FROM view.aview a`` became ``(sql) AS aview a``: parse error).
2. low — frozen sqlCurrentTimestamp silently dropped fractional
   seconds.
3. low — _mark_integral_rounds matched alias-shadowed names, skipping
   the NaN/Infinity edge rewrite for a DOUBLE alias.
4. low — extent cache never evicted stale epochs.
5. wrong #1 — _data_extent scanned a fact-table column at plan time;
   it now answers from parquet footer statistics (a driver-side
   metadata pass, no Spark job) whenever row groups don't straddle an
   interval boundary.
6. wrong #2 — the LOOKUP inline cache eagerly collected every
   registered lookup; now lazy per referenced name.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import DataFrame, functions as F

from apache_druid_spark.model.datasource import (
    DatasourceRegistry, register_testdata)
from apache_druid_spark.plans.compiler import _data_extent, _footer_extent
from apache_druid_spark.sql.dialect import druid_sql

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg(spark):
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    r.register_view(
        "ord_v", "SELECT o_orderkey, o_orderstatus FROM orders "
                 "WHERE o_totalprice > 100000")
    return r


FROZEN = {"sqlCurrentTimestamp": "2000-01-01T00:00:00Z"}


# -- 1: view alias under context ------------------------------------------

def test_context_view_keeps_explicit_alias(spark, reg):
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM view.ord_v v
        WHERE v.o_orderstatus = 'F'
    """, reg, context=FROZEN).first()
    base = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM view.ord_v
        WHERE o_orderstatus = 'F'
    """, reg).first()
    assert out["n"] == base["n"] > 0


def test_context_view_as_alias(spark, reg):
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM view.ord_v AS v
        WHERE v.o_orderstatus = 'F'
    """, reg, context=FROZEN).first()
    assert out["n"] > 0


def test_context_view_alias_not_swallowed_by_keyword(spark, reg):
    # the alias group must not consume WHERE/GROUP/...: bare view ref
    # followed directly by a keyword still works
    out = druid_sql(spark, """
        SELECT COUNT(*) AS n FROM view.ord_v WHERE o_orderstatus = 'F'
    """, reg, context=FROZEN).first()
    assert out["n"] > 0


# -- 2: fractional-second frozen clock ------------------------------------

def test_frozen_current_timestamp_keeps_millis(spark, reg):
    ctx = {"sqlCurrentTimestamp": "2000-01-01T00:00:00.123Z"}
    row = druid_sql(
        spark, "SELECT CURRENT_TIMESTAMP AS t FROM orders LIMIT 1",
        reg, context=ctx).first()
    assert row["t"] == datetime(2000, 1, 1, 0, 0, 0, 123000)


def test_frozen_current_timestamp_whole_second_unchanged(spark, reg):
    row = druid_sql(
        spark, "SELECT CURRENT_TIMESTAMP AS t FROM orders LIMIT 1",
        reg, context=FROZEN).first()
    assert row["t"] == datetime(2000, 1, 1)


# -- 3: ROUND over an alias-shadowed name ---------------------------------

def test_round_alias_shadowed_double_keeps_edge_rewrite(spark, reg):
    # `cnt` is a LONG column name on a registered table but here an
    # alias for a DOUBLE — ROUND must stay on the generic NaN/Infinity
    # path, not the integral fast path
    r = DatasourceRegistry(spark)
    df = spark.range(3).select(
        F.col("id").alias("cnt"),
        F.lit("2024-01-01").cast("timestamp").alias("__time"))
    r.register("advr10", df)
    out = druid_sql(spark, """
        SELECT ROUND(cnt, 1) AS rc FROM (
            SELECT CAST('NaN' AS DOUBLE) AS cnt FROM advr10 LIMIT 1
        ) q
    """, r).first()
    assert out["rc"] == 0.0  # Druid ROUND(NaN) = 0, not NaN


def test_round_unshadowed_integral_still_long(spark, reg):
    r = DatasourceRegistry(spark)
    df = spark.range(3).select(
        F.col("id").alias("lcol"),
        F.lit("2024-01-01").cast("timestamp").alias("__time"))
    r.register("advr10b", df)
    out = druid_sql(spark, "SELECT ROUND(lcol, 1) AS rl FROM advr10b",
                    r)
    assert out.schema["rl"].dataType.simpleString() == "bigint"


# -- 4: extent cache epoch eviction ---------------------------------------

def test_extent_cache_evicts_stale_epochs(spark):
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    q = {"dataSource": "orders",
         "intervals": ["1992-01-01/1999-01-01"]}
    _data_extent(q, r)
    assert len(r.extent_cache) == 1
    for _ in range(3):  # re-registration loop (streaming/INSERT shape)
        r.register_parquet("orders", f"{SF_DIR}/orders.parquet",
                           "o_orderdate")
        _data_extent(q, r)
    assert len(r.extent_cache) == 1  # stale epochs evicted on insert
    assert all(k[1] == r.epoch for k in r.extent_cache)


# -- 5: footer-stats extent (no Spark job) --------------------------------

def test_footer_extent_matches_scan(spark):
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    df = r.table("orders")
    ext = _footer_extent(df, "o_orderdate", ())
    assert ext is not None
    # r11: footer extents are tz-AWARE UTC (ADVICE r10) while collected
    # timestamps are naive driver-local — compare as instants
    from datetime import timezone as _tz
    assert ext[0].tzinfo is _tz.utc and ext[1].tzinfo is _tz.utc
    row = df.agg(F.min("__time"), F.max("__time")).head()
    assert ext == (row[0].astimezone(_tz.utc), row[1].astimezone(_tz.utc))


def test_data_extent_is_metadata_only(spark, monkeypatch):
    # the probe: _data_extent over a parquet-registered datasource must
    # not launch a Spark action — DataFrame.head raising proves the
    # footer path answered
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)

    def _boom(self, *a, **k):  # pragma: no cover - must not run
        raise AssertionError("extent ran a Spark scan")

    monkeypatch.setattr(DataFrame, "head", _boom)
    ext = _data_extent({"dataSource": "orders",
                        "intervals": ["1990-01-01/2005-01-01"]}, r)
    assert ext[0] is not None and ext[1] is not None
    assert ext[0] <= ext[1]


def test_footer_extent_straddling_interval_falls_back(spark):
    # an interval cutting through a row group can't be answered exactly
    # from footer stats -> None (caller scans); the scan agrees with
    # the row-exact semantics
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    df = r.table("orders")
    iv = ("1996-01-01/1997-01-01",)
    assert _footer_extent(df, "o_orderdate", iv) is None
    q = {"dataSource": "orders", "intervals": list(iv)}
    lo, hi = _data_extent(q, r)
    assert lo >= datetime(1996, 1, 1) and hi < datetime(1997, 1, 1)


def test_footer_extent_refuses_filtered_registration(spark):
    # an arbitrary register()ed DataFrame may filter rows — the footer
    # path must never be consulted for it
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    filtered = r.table("orders").filter(F.col("o_totalprice") > 1e12)
    r.register("orders_empty", filtered)
    assert "orders_empty" not in r.footer_time_cols
    q = {"dataSource": "orders_empty", "intervals": []}
    assert _data_extent(q, r) == (None, None)


# -- 6: lazy per-name lookup inline cache ---------------------------------

def test_lookup_inline_cache_is_lazy(spark):
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    r.register_lookup("wanted", {"1": "one", "2": "two"})
    r.register_lookup("unwanted", r.table("nation").select(
        F.col("n_nationkey").cast("string"), F.col("n_name")))
    out = druid_sql(
        spark,
        "SELECT LOOKUP('1', 'wanted') AS v FROM nation LIMIT 1",
        r).first()
    assert out["v"] == "one"
    # the other lookup was never collected
    assert set(r.lookup_maps) == {"wanted"}
    # referencing it later still works
    out2 = druid_sql(
        spark,
        "SELECT LOOKUP(CAST(n_nationkey AS VARCHAR), 'unwanted') AS v "
        "FROM nation WHERE n_nationkey = 0",
        r).first()
    assert out2["v"] is not None
    assert "unwanted" in r.lookup_maps  # now it was built, lazily
