"""``plans.timeout.query_scope``: one owner for a served query's id,
deadline, Spark jobs and persisted intermediates.

Covers the scope's thread state (job tag, ``interruptOnCancel``, the
caller's job group), the ``persist`` helper, the served persist leak
over 100 sequential requests, timeout isolation between two concurrent
requests, the SQL query id header, cache correctness across an epoch
bump that lands mid-request, and the single action boundary."""

from __future__ import annotations

import json
import pathlib
import re
import threading
import time
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import (
    DatasourceRegistry, register_testdata,
)
from apache_druid_spark.plans import timeout
from apache_druid_spark.plans.compiler import compile_query
from apache_druid_spark.plans.timeout import persist, query_scope
from apache_druid_spark.server import DruidHttpServer
from apache_druid_spark.sql.dialect import druid_sql
from apache_druid_spark.sql.results import format_results

REPO = pathlib.Path(__file__).resolve().parent.parent
INTERRUPT = "spark.job.interruptOnCancel"

MOVING_AVG = {
    "queryType": "movingAverage", "dataSource": "ts_small",
    "granularity": "day", "intervals": ["2024-01-01/2024-01-05"],
    "dimensions": ["k"],
    "aggregations": [{"type": "doubleSum", "name": "sv", "fieldName": "v"}],
    "averagers": [{"type": "doubleMean", "name": "m", "fieldName": "sv",
                   "buckets": 2}],
}
LEGACY_GROUPBY = {
    "queryType": "groupBy", "dataSource": "legacy_seg",
    "granularity": "all", "dimensions": ["event_type"],
    "aggregations": [{"type": "hyperUnique", "name": "uniq",
                      "fieldName": "uniq_state", "legacy": True}],
}
SQL = ("SELECT n_regionkey, COUNT(*) AS c FROM nation "
       "GROUP BY n_regionkey ORDER BY n_regionkey")
SCAN = {"queryType": "scan", "dataSource": "nation",
        "intervals": ["1970/2100"], "columns": ["n_nationkey", "n_name"],
        "resultFormat": "compactedList"}


@pytest.fixture(scope="module")
def reg(spark, sf_dir):
    from apache_druid_spark.ingest.hllc import collector_of

    r = DatasourceRegistry(spark)
    register_testdata(r, sf_dir)
    small = spark.createDataFrame(
        [("2024-01-01", "a", 10.0), ("2024-01-02", "a", 20.0),
         ("2024-01-04", "a", 40.0), ("2024-01-02", "b", 5.0)],
        "d string, k string, v double")
    r.register("ts_small", small.withColumn("__time", F.to_timestamp("d")))
    rows = [(et, bytearray(collector_of(
        [f"{et}-u{i}" for i in range(10)]).to_bytes()))
        for et in ("click", "view")]
    r.register("legacy_seg", spark.createDataFrame(
        rows, "event_type string, uniq_state binary").withColumn(
        "__time", F.lit("2001-01-01 00:00:00").cast("timestamp")))
    return r


@pytest.fixture()
def server(spark, reg):
    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    yield srv
    srv.stop()


def _post(srv, path, body):
    """(status, headers, parsed body) of one POST."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", json.dumps(body).encode(),
        {"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.headers, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, e.headers, json.loads(e.read())


def _no_cache(q):
    return {**q, "context": {**q.get("context", {}), "useCache": False}}


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as sets: Spark holds them by
    weak reference, so one an earlier test left behind may be collected
    meanwhile and a count would drop for reasons unrelated to the
    requests."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


# -- thread state ------------------------------------------------------------


@pytest.mark.parametrize("prior", [None, "false"])
def test_scope_restores_tags_and_interrupt(spark, prior):
    sc = spark.sparkContext
    sc.setLocalProperty(INTERRUPT, prior)
    try:
        with query_scope(spark, {"context": {"timeout": 60_000,
                                             "queryId": "q,1"}}) as s:
            assert s.query_id == "q,1"
            assert set(sc.getJobTags()) == {"druid-query-q_1"}
            assert sc.getLocalProperty(INTERRUPT) == "true"
            spark.range(3).collect()
        assert set(sc.getJobTags()) == set()
        assert sc.getLocalProperty(INTERRUPT) == prior
        # an untimed scope leaves interruptOnCancel alone
        with query_scope(spark, {}) as s:
            assert s.deadline is None
            assert sc.getLocalProperty(INTERRUPT) == prior
        assert set(sc.getJobTags()) == set()
    finally:
        sc.setLocalProperty(INTERRUPT, None)


def test_scope_adds_to_the_callers_job_group(spark):
    # a caller that counts its jobs by group (perfbench) keeps them:
    # the scope's tag is added, the group is not replaced
    sc = spark.sparkContext
    sc.setJobGroup("bench-scope-test", "outer", False)
    try:
        with query_scope(spark, {"context": {"queryId": "grouped"}}):
            timeout.run_with_timeout(spark.range(5).groupBy().count())
        assert sc.getLocalProperty("spark.jobGroup.id") == "bench-scope-test"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", INTERRUPT):
            sc.setLocalProperty(key, None)
    jobs = sc.statusTracker().getJobIdsForGroup("bench-scope-test")
    assert jobs
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    for jid in jobs:
        tags = store.job(jid).jobTags().mkString(",").split(",")
        assert "druid-query-grouped" in tags


def test_nested_scope_joins_the_open_one(spark):
    with query_scope(spark, {"context": {"timeout": 60_000}}) as outer:
        with query_scope(spark, {"context": {"timeout": 1}}) as inner:
            assert inner is outer
        assert set(spark.sparkContext.getJobTags()) == {outer.tag}


def test_generated_ids_are_distinct(spark):
    with query_scope(spark) as a:
        pass
    with query_scope(spark, {"context": {}}) as b:
        pass
    assert a.query_id and b.query_id and a.query_id != b.query_id


# -- persist helper ----------------------------------------------------------


def test_persist_is_released_only_by_a_scope(spark):
    plain = persist(spark.range(7).selectExpr("id * 3 AS x"))
    with query_scope(spark):
        scoped = persist(spark.range(7).selectExpr("id * 5 AS x"))
        assert scoped.collect()
        assert scoped.storageLevel.useMemory
    assert not scoped.storageLevel.useMemory  # StorageLevel.NONE
    assert plain.storageLevel.useMemory       # outside a scope: kept
    plain.unpersist()


def test_persist_only_through_the_helper():
    # every intra-query persist must be releasable by the scope; only
    # the helper and graph.py (which pairs its own unpersists) call
    # .persist( directly
    allowed = {"apache_druid_spark/plans/timeout.py",
               "apache_druid_spark/pipeline/graph.py"}
    files = [*(REPO / "apache_druid_spark").rglob("*.py"),
             REPO / "__spark_entry__.py"]
    offenders = sorted(
        str(p.relative_to(REPO)) for p in files
        if re.search(r"\.persist\(", p.read_text())
        and str(p.relative_to(REPO)) not in allowed)
    assert offenders == []


def test_unpersisted_legacy_base_still_answers(spark, reg):
    # the scope unpersists the legacy path's cached base on exit; a
    # plan that still references it re-scans its source
    with query_scope(spark) as s:
        out = compile_query(LEGACY_GROUPBY, reg)
        first = {r["event_type"]: r["uniq"] for r in out.collect()}
        (base,) = s.persisted
        assert base.storageLevel.useMemory
    assert not base.storageLevel.useMemory
    again = {r["event_type"]: r["uniq"] for r in out.collect()}
    assert again == first
    assert abs(again["click"] - 10) < 2


# -- the served persist leak -------------------------------------------------


def test_served_requests_leave_nothing_persisted(spark, reg, server):
    mix = [("/druid/v2", _no_cache(MOVING_AVG)),
           ("/druid/v2", _no_cache(LEGACY_GROUPBY)),
           ("/druid/v2/sql", {"query": SQL, "context": {"useCache": False}}),
           ("/druid/v2", _no_cache(SCAN))]
    # one cycle of ten: the two persisting queries (seconds each) once,
    # the SQL and the scan four times each
    cycle = [0, 2, 3, 2, 3, 1, 2, 3, 2, 3]
    before = _persisted(spark)
    served = [[] for _ in mix]
    for i in range(100):
        kind = cycle[i % len(cycle)]
        path, body = mix[kind]
        status, _, got = _post(server, path, body)
        assert status == 200, got
        served[kind].append(got)
    assert not _persisted(spark) - before

    # the same queries run unscoped give the same answers (and, with no
    # scope to release them, leave their persists behind)
    expected = [
        json.loads(format_results(compile_query(MOVING_AVG, reg))),
        json.loads(format_results(compile_query(LEGACY_GROUPBY, reg))),
        json.loads(format_results(druid_sql(spark, SQL, reg))),
        [list(r) for r in compile_query(SCAN, reg).collect()],
    ]
    assert _persisted(spark) - before
    for (path, body), answers, want in zip(mix, served, expected):
        if body.get("queryType") == "scan":
            answers = [[e for v in a for e in v["events"]] for a in answers]
        for got in answers:
            assert sorted(map(json.dumps, got)) == sorted(
                map(json.dumps, want)), path
    # release what the unscoped run pinned (equal plans share a cache
    # entry, so a scope over the same compiles unpersists them)
    with query_scope(spark):
        compile_query(MOVING_AVG, reg)
        compile_query(LEGACY_GROUPBY, reg)
    assert not _persisted(spark) - before


# -- timeout isolation -------------------------------------------------------


def test_timeout_cancels_only_its_own_query(spark, reg, server):
    @F.udf("double")
    def sleepy(x):
        import time as _t
        _t.sleep(0.005)
        return float(x)

    # 4,000 rows x 5 ms over 4 partitions: about 5 s per task if the
    # cancel does not reach it
    reg.register("slow_src", spark.range(0, 4000, numPartitions=4).select(
        sleepy("id").alias("v"),
        F.lit("2001-01-01 00:00:00").cast("timestamp").alias("__time")))
    slow = {"queryType": "timeseries", "dataSource": "slow_src",
            "granularity": "all", "intervals": ["1970/2100"],
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "v"}],
            "context": {"timeout": 500, "useCache": False,
                        "queryId": "slow-isolation"}}
    fast = {"query": SQL}
    out = {}

    def send(name, path, body):
        t0 = time.monotonic()
        out[name] = (*_post(server, path, body), time.monotonic() - t0)

    threads = [threading.Thread(target=send, args=a) for a in
               (("slow", "/druid/v2", slow), ("fast", "/druid/v2/sql", fast))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
        assert not t.is_alive()

    status, _, body, elapsed = out["slow"]
    assert status == 400
    assert body["error"] == "Query timeout"
    assert elapsed < 0.5 + 3
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    for jid in sc.statusTracker().getActiveJobsIds():
        tags = store.job(jid).jobTags().mkString(",").split(",")
        assert "druid-query-slow-isolation" not in tags

    status, _, rows, _ = out["fast"]
    assert status == 200
    _, _, uncached = _post(server, "/druid/v2/sql",
                           {"query": SQL, "context": {"useCache": False}})
    assert rows == uncached


# -- SQL query id header -----------------------------------------------------


def test_sql_query_id_header_always_sent(server):
    _, headers, _ = _post(server, "/druid/v2/sql",
                          {"query": SQL, "context": {"sqlQueryId": "my-q"}})
    assert headers["X-Druid-SQL-Query-Id"] == "my-q"
    ids = set()
    for _ in range(2):
        status, headers, _ = _post(server, "/druid/v2/sql", {"query": SQL})
        assert status == 200
        ids.add(headers["X-Druid-SQL-Query-Id"])
    assert len(ids) == 2 and all(ids)  # generated, one per request
    status, headers, _ = _post(server, "/druid/v2/sql",
                               {"query": "SELEC nothing"})
    assert status == 400 and headers["X-Druid-SQL-Query-Id"]
    # native responses carry no SQL query id
    _, headers, _ = _post(server, "/druid/v2", SCAN)
    assert "X-Druid-SQL-Query-Id" not in headers


# -- cache correctness across an epoch bump ----------------------------------


@pytest.mark.parametrize("path,hook", [
    ("/druid/v2", "compile_query"),
    ("/druid/v2", "format_results"),
    ("/druid/v2/sql", "druid_sql"),
])
def test_epoch_bump_in_flight_never_served_from_cache(
        spark, reg, server, monkeypatch, path, hook):
    from apache_druid_spark.server import http

    def table(v):
        reg.register("epoch_t", spark.createDataFrame(
            [("a", v), ("b", 2 * v)], "k string, v double").withColumn(
            "__time", F.lit("2001-01-01 00:00:00").cast("timestamp")))

    table(1.0)
    body = ({"query": "SELECT k, SUM(v) AS s FROM epoch_t GROUP BY k"}
            if path.endswith("sql") else
            {"queryType": "groupBy", "dataSource": "epoch_t",
             "granularity": "all", "dimensions": ["k"],
             "intervals": ["1970/2100"],
             "aggregations": [{"type": "doubleSum", "name": "s",
                               "fieldName": "v"}]})
    inside, release = threading.Event(), threading.Event()
    real = getattr(http, hook)

    def held(*a, **kw):
        inside.set()
        assert release.wait(30)
        return real(*a, **kw)

    monkeypatch.setattr(http, hook, held)
    first = {}
    t = threading.Thread(target=lambda: first.update(
        r=_post(server, path, body)))
    t.start()
    assert inside.wait(30)
    table(10.0)  # the epoch bump lands while the request is in flight
    monkeypatch.setattr(http, hook, real)
    release.set()
    t.join(30)
    assert not t.is_alive()
    assert first["r"][0] == 200
    assert first["r"][1]["X-Druid-Cache"] == "MISS"

    def rows(got):
        return sorted((r["k"], r["s"]) for r in got)

    status, headers, got = _post(server, path, body)
    assert status == 200 and headers["X-Druid-Cache"] == "MISS"
    assert rows(got) == [("a", 10.0), ("b", 20.0)]
    _, headers, again = _post(server, path, body)
    assert headers["X-Druid-Cache"] == "HIT" and again == got


# -- one action boundary -----------------------------------------------------


def test_every_served_action_runs_scoped_through_run_with_timeout(
        spark, server, monkeypatch):
    seen = []
    real = timeout.run_with_timeout

    def spy(df):
        seen.append(set(spark.sparkContext.getJobTags()))
        return real(df)

    # looked up at call time: patching the module attribute is enough
    monkeypatch.setattr(timeout, "run_with_timeout", spy)
    assert _post(server, "/druid/v2", _no_cache(LEGACY_GROUPBY))[0] == 200
    assert _post(server, "/druid/v2/sql",
                 {"query": SQL, "context": {"useCache": False}})[0] == 200
    assert _post(server, "/druid/v2", _no_cache(SCAN))[0] == 200
    avatica = "/druid/v2/sql/avatica"
    cid = _post(server, avatica,
                {"request": "openConnection"})[2]["connectionId"]
    sid = _post(server, avatica, {"request": "createStatement",
                                  "connectionId": cid})[2]["statementId"]
    status, _, ex = _post(server, avatica, {
        "request": "prepareAndExecute", "connectionId": cid,
        "statementId": sid, "maxRowCount": -1, "sql": SQL})
    assert status == 200 and ex["results"][0]["firstFrame"]["rows"]
    assert len(seen) == 4
    for tags in seen:
        assert len(tags) == 1 and next(iter(tags)).startswith("druid-query-")
