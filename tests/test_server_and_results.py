"""HTTP facade + result formats + compaction."""

from __future__ import annotations

import json
import urllib.request

import pytest

from apache_druid_spark.model.datasource import (
    DatasourceRegistry, register_testdata,
)
from apache_druid_spark.sql.results import format_results

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg(spark):
    r = DatasourceRegistry(spark)
    register_testdata(r, SF_DIR)
    return r


def test_result_formats(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "n long, s string")
    assert json.loads(format_results(df, "object")) == [
        {"n": 1, "s": "a"}, {"n": 2, "s": None}]
    assert json.loads(format_results(df, "array", header=True)) == [
        ["n", "s"], [1, "a"], [2, None]]
    lines = format_results(df, "objectLines").splitlines()
    assert len(lines) == 2 and json.loads(lines[0]) == {"n": 1, "s": "a"}
    csv_text = format_results(df, "csv", header=True)
    assert csv_text.splitlines()[0] == "n,s"
    assert csv_text.splitlines()[2] == "2,"


def test_http_native_and_sql(spark, reg):
    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        q = {"queryType": "timeBoundary", "dataSource": "orders"}
        req = urllib.request.Request(
            f"{base}/druid/v2", json.dumps(q).encode(),
            {"Content-Type": "application/json"})
        rows = json.loads(urllib.request.urlopen(req).read())
        assert rows and "minTime" in rows[0]

        body = {"query": "SELECT COUNT(*) AS cnt FROM orders",
                "resultFormat": "object"}
        req = urllib.request.Request(
            f"{base}/druid/v2/sql", json.dumps(body).encode(),
            {"Content-Type": "application/json"})
        rows = json.loads(urllib.request.urlopen(req).read())
        assert rows[0]["cnt"] > 0

        bad = urllib.request.Request(
            f"{base}/druid/v2", json.dumps({"queryType": "nope"}).encode(),
            {"Content-Type": "application/json"})
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(bad)
        assert e.value.code == 400
    finally:
        srv.stop()


def test_result_cache_hit_miss_invalidate(spark, reg):
    """Result-level cache (CachingClusteredClient analog): identical
    requests hit; registry epoch bump (re-registration/publish)
    invalidates; context.useCache=false bypasses."""
    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    body = json.dumps({"query": "SELECT COUNT(*) AS cnt FROM region"})

    def post(payload=body):
        req = urllib.request.Request(
            f"{base}/druid/v2/sql", payload.encode(),
            {"Content-Type": "application/json"})
        resp = urllib.request.urlopen(req)
        return resp.headers.get("X-Druid-Cache"), resp.read()

    try:
        s1, r1 = post()
        s2, r2 = post()
        assert (s1, s2) == ("MISS", "HIT") and r1 == r2
        # epoch bump (any re-registration) invalidates everything
        reg.register("region", reg.table("region"))
        s3, _ = post()
        assert s3 == "MISS"
        # explicit opt-out is never cached
        off = json.dumps({"query": "SELECT COUNT(*) AS cnt FROM region",
                          "context": {"useCache": False}})
        s4, _ = post(off)
        assert s4 is None
    finally:
        srv.stop()


def test_result_cache_lru_eviction():
    from apache_druid_spark.server.cache import ResultCache

    c = ResultCache(max_entries=2, max_bytes=1000)
    k1, k2, k3 = (c.key("/q", {"q": i}, 0) for i in (1, 2, 3))
    c.put(k1, "a")
    c.put(k2, "b")
    assert c.get(k1) == "a"      # touch k1 -> k2 is now LRU
    c.put(k3, "c")
    assert c.get(k2) is None     # evicted
    assert c.get(k1) == "a" and c.get(k3) == "c"
    c.put(c.key("/q", {"q": 4}, 0), "x" * 2000)  # oversized: ignored
    assert c.get(c.key("/q", {"q": 4}, 0)) is None


def test_avatica_meta_protocol(spark, reg):
    """Avatica JSON RPC (DruidMeta analog): connection/statement
    lifecycle, prepareAndExecute with frame paging, fetch, metadata."""
    from apache_druid_spark.server.avatica import AvaticaMeta

    meta = AvaticaMeta(spark, reg, frame_max_rows=10)
    conn = meta.handle({"request": "openConnection"})
    cid = conn["connectionId"]
    assert conn["response"] == "openConnection" and cid

    st = meta.handle({"request": "createStatement", "connectionId": cid})
    sid = st["statementId"]

    ex = meta.handle({
        "request": "prepareAndExecute", "connectionId": cid,
        "statementId": sid,
        "sql": "SELECT n_nationkey, n_name FROM nation ORDER BY 1"})
    assert ex["response"] == "executeResults" and not ex["missingStatement"]
    rs = ex["results"][0]
    cols = [c["columnName"] for c in rs["signature"]["columns"]]
    assert cols == ["n_nationkey", "n_name"]
    assert rs["signature"]["columns"][0]["type"]["name"] in (
        "INTEGER", "BIGINT")  # testdata stores nationkey as int32
    frame = rs["firstFrame"]
    assert len(frame["rows"]) == 10 and frame["done"] is False
    assert frame["rows"][0][1] == "NATION_0"  # synthetic nation names

    f = meta.handle({"request": "fetch", "connectionId": cid,
                     "statementId": sid, "offset": 10,
                     "fetchMaxRowCount": 100})
    assert f["response"] == "fetch"
    assert len(f["frame"]["rows"]) == 15 and f["frame"]["done"] is True

    tables = meta.handle({"request": "getTables", "connectionId": cid})
    names = {r[2] for r in tables["firstFrame"]["rows"]}
    assert {"nation", "orders", "lineitem"} <= names

    cols = meta.handle({"request": "getColumns", "connectionId": cid,
                        "tableNamePattern": "nation"})
    assert ["druid", "druid", "nation", "n_name", "12", "VARCHAR", "2"] in \
        cols["firstFrame"]["rows"]

    err = meta.handle({"request": "prepareAndExecute",
                       "connectionId": cid, "statementId": sid,
                       "sql": "SELECT FROM nowhere"})
    assert err["response"] == "error"

    meta.handle({"request": "closeStatement", "connectionId": cid,
                 "statementId": sid})
    meta.handle({"request": "closeConnection", "connectionId": cid})
    assert meta._statements == {}


def test_avatica_http_endpoint(spark, reg):
    """End-to-end over HTTP: the /druid/v2/sql/avatica route a JDBC
    JSON client would hit."""
    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}/druid/v2/sql/avatica"
    try:
        def rpc(payload):
            req = urllib.request.Request(
                base, json.dumps(payload).encode(),
                {"Content-Type": "application/json"})
            return json.loads(urllib.request.urlopen(req).read())

        cid = rpc({"request": "openConnection"})["connectionId"]
        sid = rpc({"request": "createStatement",
                   "connectionId": cid})["statementId"]
        ex = rpc({"request": "prepareAndExecute", "connectionId": cid,
                  "statementId": sid, "maxRowCount": -1,
                  "sql": "SELECT COUNT(*) AS cnt FROM orders"})
        assert ex["results"][0]["firstFrame"]["rows"][0][0] > 0
        props = rpc({"request": "databaseProperty", "connectionId": cid})
        assert props["response"] == "databaseProperty"
    finally:
        srv.stop()


def test_compaction_rollup(spark, tmp_path):
    from apache_druid_spark.ingest import ingest, write_segments
    from apache_druid_spark.ingest.compact import compact

    metrics = [{"type": "count", "name": "cnt"},
               {"type": "doubleSum", "name": "tv", "fieldName": "value"}]
    rolled = ingest(spark, {
        "ioConfig": {"inputSource": {
            "type": "local", "files": [f"{SF_DIR}/events.parquet"]},
            "inputFormat": {"type": "parquet"}},
        "dataSchema": {
            "timestampSpec": {"column": "ts", "format": "nano"},
            "dimensionsSpec": {"dimensions": ["event_type"]},
            "metricsSpec": metrics,
            "granularitySpec": {"rollup": True, "queryGranularity": "hour"}},
    })
    path = str(tmp_path / "events_rolled")
    write_segments(rolled, path, segment_granularity="day")

    # compact hourly -> daily rollup; count must survive as sum
    out = compact(spark, path, segment_granularity="week", rollup={
        "dimensions": ["event_type"],
        "queryGranularity": "day",
        "metricsSpec": metrics,
    })
    assert out.count() < spark.read.parquet(path).count()
    total_before = rolled.groupBy().sum("cnt").first()[0]
    total_after = out.groupBy().sum("cnt").first()[0]
    assert total_before == total_after


def test_http_get_endpoints(spark, reg):
    import json
    import urllib.request

    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        health = json.loads(urllib.request.urlopen(
            f"{base}/status/health").read())
        assert health["status"] == "healthy"
        status = json.loads(urllib.request.urlopen(f"{base}/status").read())
        assert status["version"]
        names = json.loads(urllib.request.urlopen(
            f"{base}/druid/v2/datasources").read())
        assert "nation" in names and "events" in names
        info = json.loads(urllib.request.urlopen(
            f"{base}/druid/v2/datasources/events").read())
        assert "event_type" in info["dimensions"]
        assert "value" in info["metrics"]
        assert "__time" not in info["dimensions"] + info["metrics"]
        try:
            urllib.request.urlopen(f"{base}/druid/v2/datasources/nope")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()


def test_types_headers_all_formats(spark):
    """SqlResourceTest testArrayResultFormatWithHeader /
    testCsvResultFormatWithHeaders /
    testObjectLinesResultFormatWithFullHeader / WithMinimalHeader:
    typesHeader and sqlTypesHeader add the Druid-native and SQL type
    rows after the column-name header."""
    df = spark.createDataFrame(
        [(1, "a", 1.5)], "id long, name string, score double")
    out = json.loads(format_results(df, "array", header=True,
                                    types_header=True,
                                    sql_types_header=True))
    assert out[0] == ["id", "name", "score"]
    assert out[1] == ["LONG", "STRING", "DOUBLE"]
    assert out[2] == ["BIGINT", "VARCHAR", "DOUBLE"]
    assert out[3] == [1, "a", 1.5]

    csv_out = format_results(df, "csv", header=True, types_header=True,
                             sql_types_header=True).splitlines()
    assert csv_out[:3] == ["id,name,score", "LONG,STRING,DOUBLE",
                           "BIGINT,VARCHAR,DOUBLE"]

    lines = format_results(df, "objectLines", header=True,
                           types_header=True,
                           sql_types_header=True).splitlines()
    hdr = json.loads(lines[0])
    assert hdr["id"] == {"type": "LONG", "sqlType": "BIGINT"}
    assert hdr["name"] == {"type": "STRING", "sqlType": "VARCHAR"}

    # minimal header: names map to null
    minimal = format_results(df, "objectLines", header=True).splitlines()
    assert json.loads(minimal[0]) == {"id": None, "name": None,
                                      "score": None}

    al = format_results(df, "arrayLines", header=True,
                        types_header=True).splitlines()
    assert json.loads(al[0]) == ["id", "name", "score"]
    assert json.loads(al[1]) == ["LONG", "STRING", "DOUBLE"]


def test_types_header_timestamp_and_array(spark):
    # __time is natively LONG / SQL TIMESTAMP; MV strings type STRING
    from datetime import datetime
    df = spark.createDataFrame(
        [(datetime(2000, 1, 1), ["a", "b"])],
        "__time timestamp, dim3 array<string>")
    out = json.loads(format_results(df, "array", header=True,
                                    types_header=True,
                                    sql_types_header=True))
    assert out[1] == ["LONG", "STRING"]
    assert out[2] == ["TIMESTAMP", "ARRAY"]


def test_sql_error_response_shape(spark, reg):
    """SqlResourceTest testCannotParse / testCannotValidate: errors
    return the QueryException envelope {error, errorMessage,
    errorClass, host} with the PlanningError codes."""
    from apache_druid_spark.server.http import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    try:
        import urllib.error

        def post(q):
            req = urllib.request.Request(
                f"http://localhost:{srv.port}/druid/v2/sql",
                json.dumps({"query": q}).encode(),
                {"Content-Type": "application/json"})
            try:
                with urllib.request.urlopen(req) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        # cannot parse (Spark accepts Druid's `FROM foo` probe as
        # FROM-first syntax, so use a true syntax error)
        status, err = post("SELEC T FROM nation")
        assert status == 400
        assert err["error"] == "SQL parse failed"
        assert err["errorClass"] == \
            "org.apache.calcite.sql.parser.SqlParseException"
        assert err["host"] is None
        # cannot validate (unknown column)
        status, err = post("SELECT no_such_col FROM nation")
        assert status == 400
        assert err["error"] == "Plan validation failed"
        assert err["errorClass"] == \
            "org.apache.calcite.tools.ValidationException"
    finally:
        srv.stop()


def test_malformed_post_body_error_envelope(spark, reg):
    """QueryResource's BadJsonQueryException: a body that is not JSON,
    or not a JSON object, is a 400 with the QueryException envelope —
    not a dropped connection — and the server keeps serving."""
    import urllib.error

    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    try:
        def post(raw: bytes):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/druid/v2", raw,
                {"Content-Type": "application/json"})
            try:
                with urllib.request.urlopen(req) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        for raw in (b"{not json", b"[1]"):
            status, err = post(raw)
            assert status == 400, raw
            assert {"error", "errorMessage", "errorClass"} <= set(err)
            assert err["error"] == "Json parse failed"
        status, rows = post(json.dumps(
            {"queryType": "timeBoundary", "dataSource": "orders"}).encode())
        assert status == 200 and "minTime" in rows[0]
    finally:
        srv.stop()


def test_http_scan_native_result_format(spark, reg):
    # /druid/v2 scan honors the native resultFormat/batchSize envelope
    # (ScanResultValue.java) instead of the generic object rows
    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        q = {"queryType": "scan", "dataSource": "nation",
             "intervals": ["1970/2100"],
             "columns": ["n_nationkey", "n_name"],
             "resultFormat": "compactedList", "batchSize": 10,
             "limit": 25}
        req = urllib.request.Request(
            f"{base}/druid/v2", json.dumps(q).encode(),
            {"Content-Type": "application/json"})
        vals = json.loads(urllib.request.urlopen(req).read())
        assert [len(v["events"]) for v in vals] == [10, 10, 5]
        assert vals[0]["columns"] == ["n_nationkey", "n_name"]
        assert all(isinstance(e, list) and len(e) == 2
                   for v in vals for e in v["events"])
    finally:
        srv.stop()


def test_http_query_timeout_envelope(spark, reg):
    # context timeout=1ms -> the QueryTimeoutException envelope
    # (errorCode "Query timeout") through /druid/v2
    from apache_druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(spark, reg, port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        q = {"queryType": "scan", "dataSource": "orders",
             "intervals": ["1970/2100"], "columns": ["o_orderkey"],
             "context": {"timeout": 1, "useCache": False}}
        req = urllib.request.Request(
            f"{base}/druid/v2", json.dumps(q).encode(),
            {"Content-Type": "application/json"})
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        body = json.loads(e.value.read())
        assert body["error"] == "Query timeout"
        assert body["errorClass"].endswith("QueryTimeoutException")
    finally:
        srv.stop()
