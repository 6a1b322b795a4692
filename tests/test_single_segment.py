"""Single-segment datasources plan as one task.

A parquet source that is exactly one file with exactly one row group is
registered as ``coalesce(1)`` (``model/datasource._as_segment``): its
``SinglePartition`` child lets aggregates, topN and the streamed side of
a broadcast join plan with no Exchange. These tests pin that plan shape,
pin that every other source keeps its exchanges, and check that the
twelve dashboard query shapes return the same rows either way.
"""

from __future__ import annotations

import io
import json
import math
import os
import re
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache_druid_spark.ingest import batch
from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.plans.compiler import compile_query
from apache_druid_spark.sql.dialect import druid_sql

TIME_COLS = {"events": "ts", "orders": "o_orderdate"}
TABLES = ("nation", "customer", "orders", "events")


def _shuffles(plan: str) -> int:
    """Shuffle exchanges in a plan (a broadcast is not a shuffle)."""
    return len(re.findall(r"(?<!Broadcast)Exchange ", plan))


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("== Physical Plan ==")[-1]


def _write_edits(path: str, day: int = 1, rows: int = 600) -> None:
    """Raw edit events for ``2024-01-<day>``, ``rows`` spread over it."""
    start = 1_704_067_200_000 + (day - 1) * 86_400_000
    with open(path, "w") as f:
        for i in range(rows):
            f.write(json.dumps({
                "timestamp": start + i * (86_400_000 // rows),
                "channel": f"#{'endefr'[2 * (i % 3):2 * (i % 3) + 2]}",
                "country": f"c{i % 4}", "user": f"u{i % 97}",
                "added": i % 50}) + "\n")


def _publish(spark, raw_paths: list[str], seg_dir: str) -> None:
    spec = {
        "ioConfig": {"inputSource": {"type": "local", "files": raw_paths},
                     "inputFormat": {"type": "json"}},
        "dataSchema": {
            "timestampSpec": {"column": "timestamp", "format": "millis"},
            "dimensionsSpec": {"dimensions": ["channel", "country"]},
            "metricsSpec": [
                {"type": "count", "name": "cnt"},
                {"type": "longSum", "name": "added", "fieldName": "added"},
                {"type": "HLLSketchBuild", "name": "users",
                 "fieldName": "user"}],
            "granularitySpec": {"rollup": True,
                                "queryGranularity": "minute",
                                "segmentGranularity": "day"}}}
    batch.write_segments(batch.ingest(spark, spec), seg_dir, "day")


@pytest.fixture(scope="module")
def edits_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edits")
    raw = str(d / "day1.json")
    _write_edits(raw)
    seg_dir = str(d / "segments")
    _publish(spark, [raw], seg_dir)
    return seg_dir


@pytest.fixture(scope="module")
def regs(spark, sf_dir, edits_dir):
    """(single-segment registry, multi-partition registry) over the same
    files and lookup."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    single, multi = DatasourceRegistry(spark), DatasourceRegistry(spark)
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        single.register_parquet(name, path, TIME_COLS.get(name))
        multi.register(name, spark.read.parquet(path).repartition(4),
                       TIME_COLS.get(name))
    single.register_published("edits", edits_dir)
    multi.register("edits", spark.read.parquet(edits_dir).repartition(4))
    for r in (single, multi):
        r.register_lookup("nation_name", r.table("nation").select(
            F.col("n_nationkey").cast("string"), F.col("n_name")))
    return single, multi


EDITS_DAY = "2024-01-01/2024-01-02"

# the dashboard's twelve templates (perfbench/workloads.py) with fixed
# parameters inside the sf0.001 tables
SHAPES = {
    "timeseries": {
        "queryType": "timeseries", "dataSource": "events",
        "granularity": "hour", "intervals": ["2024-01-03/2024-01-07"],
        "filter": {"type": "selector", "dimension": "event_type",
                   "value": "click"},
        "aggregations": [{"type": "count", "name": "cnt"},
                         {"type": "doubleSum", "name": "value",
                          "fieldName": "value"}]},
    "topN": {
        "queryType": "topN", "dataSource": "orders", "granularity": "all",
        "intervals": ["1996-01-01/1996-04-01"],
        "dimension": "o_orderpriority", "metric": "revenue", "threshold": 3,
        "aggregations": [{"type": "doubleSum", "name": "revenue",
                          "fieldName": "o_totalprice"},
                         {"type": "count", "name": "cnt"}]},
    "groupBy": {
        "queryType": "groupBy", "dataSource": "events", "granularity": "day",
        "intervals": ["2024-01-02/2024-01-09"], "dimensions": ["event_type"],
        "filter": {"type": "bound", "dimension": "user_id", "lower": "5",
                   "upper": "60", "upperStrict": True,
                   "ordering": "numeric"},
        "aggregations": [{"type": "count", "name": "cnt"},
                         {"type": "doubleSum", "name": "value",
                          "fieldName": "value"}]},
    "search": {
        "queryType": "search", "dataSource": "customer",
        "intervals": ["1970/2100"], "searchDimensions": ["c_name"],
        "query": {"type": "insensitive_contains", "value": "01"},
        "limit": 10},
    "timeBoundary": {
        "queryType": "timeBoundary", "dataSource": "events",
        "intervals": ["2024-01-05/2024-01-12"]},
    "sql_time_floor": (
        "SELECT TIME_FLOOR(__time, 'PT1H') AS t, COUNT(*) AS cnt, "
        "SUM(\"value\") AS total FROM events "
        "WHERE __time >= TIMESTAMP '2024-01-04 00:00:00' "
        "AND __time < TIMESTAMP '2024-01-08 00:00:00' "
        "AND event_type = 'view' GROUP BY 1"),
    "sql_filtered_groupby": (
        "SELECT event_type, COUNT(*) AS cnt, SUM(\"value\") AS total "
        "FROM events WHERE user_id < 70 AND \"value\" > 50.5 "
        "GROUP BY event_type"),
    "sql_join": (
        "SELECT c.c_mktsegment, COUNT(*) AS cnt, "
        "SUM(o.o_totalprice) AS revenue FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey "
        "WHERE o.__time >= TIMESTAMP '1995-06-01 00:00:00' "
        "AND o.__time < TIMESTAMP '1997-06-01 00:00:00' "
        "AND o.o_orderstatus = 'F' GROUP BY 1"),
    "sql_count_distinct": (
        "SELECT event_type, COUNT(DISTINCT user_id) AS users FROM events "
        "WHERE __time >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND __time < TIMESTAMP '2024-01-20 00:00:00' "
        "AND \"value\" > 20.0 GROUP BY 1"),
    "sql_lookup": (
        "SELECT LOOKUP(CAST(c_nationkey AS VARCHAR), 'nation_name') "
        "AS nation, COUNT(*) AS cnt FROM customer WHERE c_acctbal > 1000 "
        "GROUP BY 1"),
    "sql_edits": (
        "SELECT channel, SUM(cnt) AS edits, SUM(added) AS added "
        "FROM edits WHERE country = 'c1' GROUP BY 1"),
    "edits_hll": {
        "queryType": "groupBy", "dataSource": "edits", "granularity": "all",
        "intervals": [EDITS_DAY], "dimensions": ["country"],
        "filter": {"type": "selector", "dimension": "channel",
                   "value": "#de"},
        "aggregations": [{"type": "longSum", "name": "edits",
                          "fieldName": "cnt"},
                         {"type": "HLLSketchMerge", "name": "users",
                          "fieldName": "users"}]},
}


def _run(spark, shape, reg):
    if isinstance(shape, str):
        return druid_sql(spark, shape, reg)
    return compile_query(shape, reg)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (a == b or (math.isnan(a) and math.isnan(b))
                or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12))
    return a == b


def _same_multiset(got, want) -> bool:
    """Equal as multisets of rows, floats to a relative 1e-9."""
    key = lambda r: tuple(f"{v:.6g}" if isinstance(v, float) else repr(v)  # noqa: E731
                          for v in r)
    g, w = sorted(map(tuple, got), key=key), sorted(map(tuple, want), key=key)
    return len(g) == len(w) and all(
        len(x) == len(y) and all(map(_close, x, y)) for x, y in zip(g, w))


@pytest.mark.parametrize("shape", list(SHAPES))
def test_dashboard_shape_rows_match_multi_partition(spark, regs, shape):
    single, multi = regs
    got = _run(spark, SHAPES[shape], single).collect()
    want = _run(spark, SHAPES[shape], multi).collect()
    assert want, f"{shape}: empty answer proves nothing"
    assert _same_multiset(got, want), (shape, got, want)


def test_single_segment_sources_are_coalesced(regs):
    """Exactly the one-file, one-row-group sources are declared one
    partition; the fixture's own multi-partition frames are not."""
    single, multi = regs
    for name in (*TABLES, "edits"):
        assert single.table(name).rdd.getNumPartitions() == 1, name
        assert multi.table(name).rdd.getNumPartitions() == 4, name


@pytest.mark.parametrize("shape", [
    "timeseries", "groupBy", "topN", "sql_join", "edits_hll"])
def test_single_segment_plans_without_exchange(spark, regs, shape):
    single, _ = regs
    plan = _plan(_run(spark, SHAPES[shape], single))
    assert "Coalesce" in plan, plan
    assert _shuffles(plan) == 0, plan


def _groupby_plan(spark, reg, name="t"):
    q = {"queryType": "groupBy", "dataSource": name, "granularity": "all",
         "dimensions": ["event_type"],
         "aggregations": [{"type": "count", "name": "cnt"}]}
    return _plan(compile_query(q, reg))


def _keeps_exchange(plan: str) -> None:
    assert _shuffles(plan) > 0, plan
    assert "Coalesce" not in plan, plan


def test_two_row_group_file_keeps_exchange(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events2rg.parquet")
    table = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(table, path, row_group_size=table.num_rows // 2 + 1)
    assert pq.ParquetFile(path).metadata.num_row_groups == 2
    reg = DatasourceRegistry(spark)
    reg.register_parquet("t", path, "ts")
    _keeps_exchange(_groupby_plan(spark, reg))


def test_two_file_directory_keeps_exchange(spark, sf_dir, tmp_path):
    table = pq.read_table(f"{sf_dir}/events.parquet")
    half = table.num_rows // 2
    d = tmp_path / "events2f"
    d.mkdir()
    pq.write_table(table.slice(0, half), str(d / "part-0.parquet"))
    pq.write_table(table.slice(half), str(d / "part-1.parquet"))
    reg = DatasourceRegistry(spark)
    reg.register_parquet("t", str(d), "ts")
    _keeps_exchange(_groupby_plan(spark, reg))


def test_registered_dataframe_keeps_exchange(spark, sf_dir):
    reg = DatasourceRegistry(spark)
    reg.register("t", spark.read.parquet(f"{sf_dir}/events.parquet"), "ts")
    _keeps_exchange(_groupby_plan(spark, reg))


def test_two_day_publish_keeps_exchange(spark, tmp_path):
    raws = []
    for day in (1, 2):
        raws.append(str(tmp_path / f"day{day}.json"))
        _write_edits(raws[-1], day)
    seg_dir = str(tmp_path / "segments")
    _publish(spark, raws, seg_dir)
    assert len([s for s in os.listdir(seg_dir)
                if s.startswith("__segment=")]) == 2
    reg = DatasourceRegistry(spark)
    reg.register_published("edits", seg_dir)
    q = dict(SHAPES["edits_hll"], intervals=["2024-01-01/2024-01-03"])
    _keeps_exchange(_plan(compile_query(q, reg)))
