"""Regression tests for the round-11 advisor findings (ADVICE.md r11).

1. low — the inline LOOKUP map literal rendered a NULL lookup value
   as the string 'None' (_esc(None)), while the lookup_<name> view
   path's max(v) returns SQL NULL for an all-null key; the two paths
   disagreed. NULL-valued pairs are now OMITTED from the literal
   (element_at on a missing key already yields NULL).
2. low — the ROUND self-alias strip accepted QUALIFIED refs
   (``ROUND(t2.cnt, 1) AS cnt``), so a DOUBLE t2.cnt could land on the
   __round_int fast path when another referenced table has an integral
   ``cnt``. The strip is now unqualified-only; qualified self-aliases
   conservatively stay shadowed.
3. low — _LOOKUP_INLINE_MAX was measured on pre-dedup rows; a lookup
   with few distinct keys but many duplicate rows was pushed to the
   correlated-subquery path (where the HOF-lambda limitation applies).
   The cap now measures post-dedup (groupBy k, max v) keys.
4. low — hand-edited rotation tuples removed from __spark_entry__;
   the entry order is derived from the committed evidence files
   (asserted here against an independent computation of the rule).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.sql import dialect
from apache_druid_spark.sql.dialect import druid_sql


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture()
def base_table(spark):
    r = DatasourceRegistry(spark)
    df = spark.range(3).select(
        (F.col("id") * 10).alias("cnt"),
        F.lit("2024-01-01").cast("timestamp").alias("__time"))
    r.register("advr12", df)
    return r


# -- 1: NULL lookup values are SQL NULL on the inline path ------------------

def test_lookup_null_value_is_sql_null(spark, base_table):
    nullish = spark.createDataFrame(
        [("a", None), ("b", "bee")], "k string, v string")
    base_table.register_lookup("nully", nullish)
    out = druid_sql(
        spark, "SELECT LOOKUP('a', 'nully') AS la, "
               "LOOKUP('b', 'nully') AS lb FROM advr12 LIMIT 1",
        base_table).first()
    assert out["la"] is None          # was the string 'None'
    assert out["lb"] == "bee"


def test_lookup_null_value_paths_agree(spark, base_table):
    # inline-literal path and the lookup_<name> view (subquery) path
    # must give the same answer for an all-null key
    nullish = spark.createDataFrame(
        [("a", None), ("b", "bee")], "k string, v string")
    base_table.register_lookup("nully2", nullish)
    inline = _analyzed(druid_sql(
        spark, "SELECT LOOKUP('b', 'nully2') AS lb FROM advr12",
        base_table))
    # the literal holds no stringified NULL: the NULL pair is omitted
    assert "element_at(map(b, bee), " in inline
    via_view = druid_sql(
        spark, "SELECT v FROM lookup.nully2 WHERE k = 'a'",
        base_table).first()
    assert via_view["v"] is None


# -- 2: qualified ROUND self-alias stays OFF the integral fast path ---------

def test_round_qualified_self_alias_stays_shadowed(spark, base_table):
    # t2.cnt is DOUBLE NaN; the registered table advr12 contributes an
    # integral column also named cnt. ROUND(t2.cnt, 1) AS cnt must keep
    # the generic NaN edge rewrite (NaN -> 0.0), not the __round_int
    # fast path (which would return NaN).
    out = druid_sql(spark, """
        SELECT ROUND(t2.cnt, 1) AS cnt
        FROM advr12, (SELECT CAST('NaN' AS DOUBLE) AS cnt
                      FROM advr12 LIMIT 1) t2
        LIMIT 1
    """, base_table).first()
    assert out["cnt"] == 0.0


def test_round_unqualified_self_alias_keeps_fast_path(spark, base_table):
    # the r10 fix still holds for the unqualified shape
    out = druid_sql(
        spark, "SELECT ROUND(cnt, 1) AS cnt FROM advr12 "
               "ORDER BY cnt LIMIT 1", base_table)
    assert out.schema["cnt"].dataType.simpleString() == "bigint"
    assert out.first()["cnt"] == 0


# -- 3: inline cap measures post-dedup keys ----------------------------------

def test_lookup_inline_cap_is_post_dedup(spark, base_table, monkeypatch):
    monkeypatch.setattr(dialect, "_LOOKUP_INLINE_MAX", 3)
    # 8 raw rows, 2 distinct keys -> must stay on the inline path
    dup = spark.createDataFrame(
        [("a", f"v{i}") for i in range(4)]
        + [("b", f"w{i}") for i in range(4)], "k string, v string")
    base_table.register_lookup("duppy12", dup)
    plan = _analyzed(druid_sql(
        spark, "SELECT LOOKUP('a', 'duppy12') AS la FROM advr12",
        base_table))
    assert "element_at(map(" in plan          # inline, not subquery
    assert "scalar-subquery" not in plan
    # and the dedup pick matches the view path (max v)
    out = druid_sql(
        spark, "SELECT LOOKUP('a', 'duppy12') AS la, "
               "LOOKUP('b', 'duppy12') AS lb FROM advr12 LIMIT 1",
        base_table).first()
    assert out["la"] == "v3" and out["lb"] == "w3"


def test_lookup_oversized_post_dedup_still_subquery(spark, base_table,
                                                    monkeypatch):
    monkeypatch.setattr(dialect, "_LOOKUP_INLINE_MAX", 3)
    big = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(5)], "k string, v string")
    base_table.register_lookup("biggy12", big)
    plan = _analyzed(druid_sql(
        spark, "SELECT LOOKUP('k1', 'biggy12') AS la FROM advr12",
        base_table))
    assert "scalar-subquery" in plan and "lookup_biggy12" in plan


# -- 4: entry order is derived from committed evidence ---------------------

_R14_EVIDENCE = {"sql_scalar_shims2", "sql_scalar_shims3",
                 "sql_parameterized", "sql_array_agg_sorted",
                 "sql_lookup_schema_join", "spatial_rectangular",
                 "spatial_polygon"}


def test_dead_windows_removed(tmp_path, monkeypatch):
    import json
    import os
    import re

    import __spark_entry__ as e
    assert not [n for n in vars(e)
                if re.fullmatch(r"_R\d+_(WINDOW|NEXT)", n)]
    assert not hasattr(e, "_entry_order")

    # the rule, built bucket by bucket: never-green entries, then one
    # bucket per evidence round (oldest first), each in file order
    root = os.path.dirname(os.path.abspath(e.__file__))
    rounds = sorted(int(m.group(1)) for f in os.listdir(root)
                    if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)))
    last = {}
    for rnd in rounds:
        with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json")) as f:
            for name, v in json.load(f).items():
                if (v["rows_match"] and v["schema_match"]
                        and v["hash_match"] and v["err"] is None):
                    last[name] = rnd
    file_order = list(e._QUERIES)
    expected = [n for n in file_order if n not in last]
    for rnd in rounds:
        expected += [n for n in file_order if last.get(n) == rnd]
    got = list(e.queries())
    assert got[:50] == expected[:50]
    assert sorted(got) == sorted(file_order)
    # today's oldest evidence is r14: those seven front the window
    assert set(got[:7]) == _R14_EVIDENCE
    assert {last[n] for n in got[:7]} == {14}

    # no evidence files: plain file order
    monkeypatch.setattr(e, "_EVIDENCE_DIR", str(tmp_path))
    assert list(e.queries()) == file_order


# -- round-12 scale item: registry-backed extent for published
# datasources (SCALE.md round-11 called for answering extents without
# touching the whole datasource when footers can't — remote URIs)

def test_published_extent_scans_only_edge_segments(spark, tmp_path,
                                                   monkeypatch):
    from pyspark.sql import functions as F

    from apache_druid_spark.ingest.batch import write_segments
    from apache_druid_spark.model.datasource import DatasourceRegistry
    from apache_druid_spark.plans import compiler

    df = spark.range(0, 96).select(
        (F.lit("2024-03-01").cast("timestamp")
         + F.make_interval(hours=F.col("id"))).alias("__time"),
        F.col("id").alias("v"))
    path = str(tmp_path / "pub")
    write_segments(df, path, segment_granularity="day")
    reg = DatasourceRegistry(spark)
    pub = reg.register_published("pub", path, "day")

    # the full-scan truth
    truth = pub.agg(F.min("__time"), F.max("__time")).head()

    # force the non-footer path (remote object stores return None)
    monkeypatch.setattr(compiler, "_footer_extent",
                        lambda *a, **k: None)
    reg.extent_cache.clear()
    ext = compiler._data_extent(
        {"queryType": "timeseries", "dataSource": "pub"}, reg)
    assert ext == (truth[0], truth[1])

    # the narrowed frame reads only the first+last of 4 day segments
    # (the isin predicate lands on the partition column, so Spark
    # prunes the middle directories before opening any file)
    narrowed = compiler._edge_segments_frame(pub, "pub", [], reg)
    assert narrowed is not None
    assert narrowed.count() == 48  # 2 of 4 day segments x 24 rows
    segs = {r[0] for r in narrowed.select("__segment")
            .distinct().collect()}
    assert segs == {"2024-03-01T00", "2024-03-04T00"}
    plan = narrowed._jdf.queryExecution().executedPlan().toString()
    assert "__segment" in plan  # partition predicate present


def test_published_extent_interval_clip(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from apache_druid_spark.ingest.batch import write_segments
    from apache_druid_spark.model.datasource import DatasourceRegistry
    from apache_druid_spark.plans import compiler

    df = spark.range(0, 96).select(
        (F.lit("2024-03-01").cast("timestamp")
         + F.make_interval(hours=F.col("id"))).alias("__time"),
        F.col("id").alias("v"))
    path = str(tmp_path / "pub2")
    write_segments(df, path, segment_granularity="day")
    reg = DatasourceRegistry(spark)
    pub = reg.register_published("pub2", path, "day")

    monkeypatch.setattr(compiler, "_footer_extent",
                        lambda *a, **k: None)
    reg.extent_cache.clear()
    iv = ["2024-03-02T06:00:00/2024-03-03T18:00:00"]
    ext = compiler._data_extent(
        {"queryType": "timeseries", "dataSource": "pub2",
         "intervals": iv}, reg)
    from datetime import datetime
    assert ext == (datetime(2024, 3, 2, 6), datetime(2024, 3, 3, 17))
    narrowed = compiler._edge_segments_frame(pub, "pub2", iv, reg)
    segs = {r[0] for r in narrowed.select("__segment")
            .distinct().collect()}
    assert segs == {"2024-03-02T00", "2024-03-03T00"}


def test_extraction_lookup_null_value_is_a_miss(spark, base_table):
    # same bug class as finding 1, on the EXTRACTION-FN lookup map:
    # a null-valued key behaves exactly like a missing key
    # (MapLookupExtractor.apply -> map.get -> null), never the string
    # 'None'
    from apache_druid_spark.operators.dimensions import (
        compile_extraction_fn)

    df = spark.createDataFrame([("a",), ("b",), ("c",)], "d string")
    exfn = {"type": "lookup",
            "lookup": {"type": "map",
                       "map": {"a": None, "b": "bee"}}}
    got = [r[0] for r in df.select(F.expr(compile_extraction_fn(
        exfn, "d", None)).alias("x")).collect()]
    assert got == [None, "bee", None]
    # retainMissingValue treats the null-valued key as a miss too —
    # the input value comes back (LookupExtractionFn retain contract)
    got = [r[0] for r in df.select(F.expr(compile_extraction_fn(
        {**exfn, "retainMissingValue": True}, "d",
        None)).alias("x")).collect()]
    assert got == ["a", "bee", "c"]
