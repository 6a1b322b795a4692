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
from apache_druid_spark.plans.timeout import QueryTimeoutError, query_scope
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
                if path not in ("/druid/v2/sql/avatica", "/druid/v2/sql",
                                "/druid/v2"):
                    self.send_error(404)
                    return
                status, ctype, scope, cache_state = (
                    200, "application/json", None, None)
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(body, dict):
                        raise BadJsonQueryError(
                            "request body must be a JSON object, got "
                            f"{type(body).__name__}")
                    with query_scope(outer.spark, body) as scope:
                        payload, cache_state = outer._answer(path, body)
                    if body.get("resultFormat") == "csv":
                        ctype = "text/csv"
                except Exception as e:  # noqa: BLE001 — HTTP error surface
                    status, payload = 400, json.dumps(
                        _query_exception_json(e))
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                if path == "/druid/v2/sql" and scope is not None:
                    # SqlResource always sends it, generated if absent
                    self.send_header("X-Druid-SQL-Query-Id",
                                     scope.query_id)
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

    def _answer(self, path: str, body: dict) -> tuple[str, str | None]:
        """The serialized answer to one request and its cache state
        (HIT / MISS, None when the cache is not consulted)."""
        if path == "/druid/v2/sql/avatica":
            # JDBC statements are stateful; never cached
            return json.dumps(self.avatica.handle(body)), None
        # context.useCache: false opts a request out (the reference's
        # flag). The key holds the epoch at arrival, so a register or
        # publish that lands mid-query files this answer under the old one
        key = None
        if self.cache is not None and (
                (body.get("context") or {}).get("useCache") is not False):
            key = self.cache.key(path, body, self.registry.epoch)
            payload = self.cache.get(key)
            if payload is not None:
                return payload, "HIT"
        if path == "/druid/v2/sql":
            df = druid_sql(self.spark, body["query"], self.registry,
                           parameters=body.get("parameters"),
                           context=body.get("context"))
            payload = format_results(
                df, body.get("resultFormat", "object"),
                header=bool(body.get("header")),
                types_header=bool(body.get("typesHeader")),
                sql_types_header=bool(body.get("sqlTypesHeader")))
        elif body.get("queryType") == "scan":
            # scan honors its native resultFormat / batchSize / legacy
            # envelope (ScanResultValue.java)
            from apache_druid_spark.sql.results import scan_result_values
            payload = json.dumps(scan_result_values(body, self.registry))
        else:
            payload = format_results(compile_query(body, self.registry),
                                     "object")
        if key is not None:
            self.cache.put(key, payload)
        return payload, None if key is None else "MISS"
