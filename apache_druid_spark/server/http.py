"""Minimal HTTP facade: POST /druid/v2 (native JSON queries),
POST /druid/v2/sql (Druid SQL), POST /druid/v2/sql/avatica (Avatica
JSON RPC — the JDBC protocol), GET /status[/health] and
GET /druid/v2/datasources[/{name}], mirroring the reference's endpoints.

Reference: server/src/main/java/org/apache/druid/server/QueryResource.java:89,143
(native), sql/src/main/java/org/apache/druid/sql/http/SqlResource.java:72,102
(SQL, resultFormat field), sql/.../avatica/DruidAvaticaHandler.java
(JDBC endpoint path), server/.../StatusResource.java (GET /status),
server/.../ClientInfoResource.java (GET /druid/v2/datasources — the
endpoint consoles/clients use for discovery). Stdlib http.server — the
broker's whole scatter/gather behind these endpoints is the Spark
driver; this class is just serialization.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from apache_druid_spark.plans.compiler import compile_query
from apache_druid_spark.server.avatica import AvaticaMeta
from apache_druid_spark.server.cache import ResultCache
from apache_druid_spark.sql.dialect import druid_sql
from apache_druid_spark.sql.results import format_results


class BadJsonQueryError(ValueError):
    """A POST body that parses but is not a JSON object."""


def _query_exception_json(e: Exception) -> dict:
    """The Druid QueryException wire shape (sql/.../SqlPlanningException
    PlanningError + query/.../BadQueryException: {error, errorMessage,
    errorClass, host}; SqlResourceTest testCannotParse /
    testCannotValidate pin the error codes). Spark's ParseException
    maps to SQL_PARSE_ERROR, AnalysisException / dialect ValueErrors
    to VALIDATION_ERROR, anything else to the generic envelope."""
    from apache_druid_spark.plans.timeout import QueryTimeoutError

    name = type(e).__name__
    if isinstance(e, (json.JSONDecodeError, BadJsonQueryError)):
        # BadJsonQueryException.java: errorCode "Json parse failed"
        code, cls = ("Json parse failed",
                     "com.fasterxml.jackson.core.JsonParseException")
    elif isinstance(e, QueryTimeoutError):
        # QueryTimeoutException.java: errorCode "Query timeout"
        # (served with HTTP 504 upstream; the envelope is what
        # clients key on)
        code, cls = e.error_code, e.error_class
    elif "ParseException" in name or "[PARSE_SYNTAX_ERROR]" in str(e):
        code, cls = ("SQL parse failed",
                     "org.apache.calcite.sql.parser.SqlParseException")
    elif "AnalysisException" in name or isinstance(e, ValueError):
        code, cls = ("Plan validation failed",
                     "org.apache.calcite.tools.ValidationException")
    else:
        code, cls = "Unknown exception", f"{type(e).__module__}.{name}"
    return {"error": code, "errorMessage": str(e).split("\nJVM")[0],
            "errorClass": cls, "host": None}


class DruidHttpServer:
    """Serve a DatasourceRegistry over the Druid HTTP surface.

    >>> srv = DruidHttpServer(spark, registry, port=8888)
    >>> srv.start()          # background thread
    >>> # POST {"queryType": ...}          -> /druid/v2
    >>> # POST {"query": "SELECT ...", "resultFormat": "csv"} -> /druid/v2/sql
    >>> srv.stop()
    """

    def __init__(self, spark, registry, host: str = "127.0.0.1",
                 port: int = 8082, use_cache: bool = True):
        self.spark = spark
        self.registry = registry
        self.avatica = AvaticaMeta(spark, registry)
        # result-level cache (CachingClusteredClient analog); keyed on
        # registry.epoch so any register/publish invalidates
        self.cache = ResultCache() if use_cache else None
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                path = self.path.rstrip("/")
                try:
                    if path in ("/status", "/status/health"):
                        payload = json.dumps(
                            {"version": "druid-on-spark",
                             "status": "healthy"}
                            if path.endswith("health") else
                            {"version": "druid-on-spark",
                             "modules": [],
                             "memory": {}})
                    elif path == "/druid/v2/datasources":
                        payload = json.dumps(outer.registry.names())
                    elif path.startswith("/druid/v2/datasources/"):
                        name = path.rsplit("/", 1)[1]
                        df = outer.registry.table(name)
                        hidden = {"__time", "__segment",
                                  outer.registry.time_columns.get(name)}
                        payload = json.dumps({
                            "dimensions": [c for c, t in df.dtypes
                                           if c not in hidden
                                           and t == "string"],
                            "metrics": [c for c, t in df.dtypes
                                        if c not in hidden
                                        and t != "string"],
                        })
                    else:
                        self.send_error(404)
                        return
                except KeyError as e:
                    self.send_error(404, str(e))
                    return
                except Exception as e:  # noqa: BLE001 — HTTP error surface
                    msg = json.dumps({"error": str(e)})
                    self.send_response(500)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    self.wfile.write(msg.encode())
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(payload.encode())

            def do_POST(self):
                path = self.path.rstrip("/")
                cache_state = None
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(body, dict):
                        raise BadJsonQueryError(
                            "request body must be a JSON object, got "
                            f"{type(body).__name__}")
                    if path == "/druid/v2/sql/avatica":
                        # JDBC statements are stateful; never cached
                        payload = json.dumps(outer.avatica.handle(body))
                    elif path in ("/druid/v2/sql", "/druid/v2"):
                        key = None
                        payload = None
                        # context.useCache: false opts a request out,
                        # mirroring the reference's query context flag
                        use = (outer.cache is not None and
                               (body.get("context") or {})
                               .get("useCache", True) is not False)
                        if use:
                            key = outer.cache.key(
                                path, body, outer.registry.epoch)
                            payload = outer.cache.get(key)
                            cache_state = ("HIT" if payload is not None
                                           else "MISS")
                        if payload is None:
                            if path == "/druid/v2/sql":
                                df = druid_sql(
                                    outer.spark, body["query"],
                                    outer.registry,
                                    parameters=body.get("parameters"),
                                    context=body.get("context"))
                                fmt = body.get("resultFormat", "object")
                                from apache_druid_spark.plans.timeout \
                                    import context_timeout
                                payload = format_results(
                                    df, fmt,
                                    header=bool(body.get("header")),
                                    types_header=bool(
                                        body.get("typesHeader")),
                                    sql_types_header=bool(
                                        body.get("sqlTypesHeader")),
                                    timeout_ms=context_timeout(body))
                            elif body.get("queryType") == "scan":
                                # scan honors its native resultFormat /
                                # batchSize / legacy envelope
                                # (ScanResultValue.java)
                                from apache_druid_spark.sql.results \
                                    import scan_result_values
                                payload = json.dumps(scan_result_values(
                                    body, outer.registry))
                            else:
                                from apache_druid_spark.plans.timeout \
                                    import context_timeout
                                df = compile_query(body, outer.registry)
                                payload = format_results(
                                    df, "object",
                                    timeout_ms=context_timeout(body))
                            if key is not None:
                                outer.cache.put(key, payload)
                    else:
                        self.send_error(404)
                        return
                except Exception as e:  # noqa: BLE001 — HTTP error surface
                    msg = json.dumps(_query_exception_json(e))
                    self.send_response(400)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    self.wfile.write(msg.encode())
                    return
                self.send_response(200)
                ctype = ("text/csv" if body.get("resultFormat") == "csv"
                         else "application/json")
                self.send_header("Content-Type", ctype)
                qid = ((body.get("context") or {}).get("sqlQueryId")
                       if path == "/druid/v2/sql" else None)
                if qid is not None:
                    # SqlResource echoes the id (X-Druid-SQL-Query-Id)
                    self.send_header("X-Druid-SQL-Query-Id", str(qid))
                if cache_state is not None:
                    self.send_header("X-Druid-Cache", cache_state)
                self.end_headers()
                self.wfile.write(payload.encode())

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        # release any legacy-path cached base projections pinned by
        # queries this server compiled (r16 verdict #6)
        from apache_druid_spark.plans.compiler import (
            unpersist_legacy_cache,
        )

        unpersist_legacy_cache()
