"""The benchmark's workloads, their output checks and their metrics.

Every workload returns a ``Result`` whose ``metrics`` hold the
end-to-end metrics (untraced) or the per-layer metrics (traced).

- ``dashboard``: closed loop, one client per core, result cache on,
  over the sf0.1 tables. Twelve native and SQL templates with seeded
  parameters; every fourth request repeats one of an 8-request hot set
  and the rest are fresh, so most requests miss the 256-entry cache and
  the median is a miss. Each set-up ingests a day of raw edits with
  minute rollup (ingest, write_segments, register_published); two
  templates read it.
- ``pipeline``: one thread running six curation operators in a chain
  over a seeded sample of the sf0.1 documents; no HTTP, cache or query
  compile.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import itertools
import json
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from http.client import HTTPConnection

import numpy as np

import data
from spans import Tracer

SETUPS = 3          # set-ups per run; setup_s is their median
HOT = 8             # requests in the dashboard's repeating hot set
HOT_SHARE = 0.25    # share of the dashboard stream drawn from the hot set
INGEST_ROWS = 20_000  # raw edits ingested in each dashboard set-up
PIPELINE_DOCS = 500  # documents in the pipeline's seeded sample

PIPELINE_OPS = ["exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs",
                "tfidf_top_terms", "importance_weights", "gopher_rules"]
# per-layer metrics: name -> (unit, better). Every run reports all of
# them; a layer the workload does not reach reads 0.
PER_LAYER = {
    "server.self_ms": ("ms", "lower"),
    "server.response_bytes": ("bytes", "lower"),
    "server.cache.lookups": ("count", "higher"),
    "server.cache.hits": ("count", "higher"),
    "server.cache.hit_ratio": ("ratio", "higher"),
    "sql.druid_sql_ms": ("ms", "lower"),
    "sql.druid_sql_calls": ("count", "lower"),
    "plans.compile_query_ms": ("ms", "lower"),
    "plans.compile_query_calls": ("count", "lower"),
    "exec.collect_ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_ms": ("ms", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "results.format_self_ms": ("ms", "lower"),
    "results.rows": ("count", "higher"),
    "ingest.ingest_ms": ("ms", "lower"),
    "ingest.write_segments_ms": ("ms", "lower"),
    "model.register_published_ms": ("ms", "lower"),
    "ingest.publish_p50_ms": ("ms", "lower"),
    "ingest.rows_in": ("count", "higher"),
    "ingest.rows_out": ("count", "lower"),
    "ingest.rollup_ratio": ("ratio", "lower"),
    "ingest.bytes_written_per_input_byte": ("ratio", "lower"),
    "ingest.files_written": ("count", "lower"),
    **{f"pipeline.{op}.{m}": (u, "lower") for op in PIPELINE_OPS
       for m, u in (("build_ms", "ms"), ("exec_ms", "ms"),
                    ("stages", "count"), ("shuffle_bytes", "bytes"))},
    "trace.overhead_pct": ("%", "lower"),
}


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    run_dir: str
    clients: int
    trace: bool


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: list = field(default_factory=list)


class Tally:
    """Thread-safe record of operations: the latency, bytes and rows of
    each that succeeded, and the failures, which have no latency."""

    def __init__(self):
        self.lock = threading.Lock()
        self.lat: list[float] = []
        self.bytes = 0
        self.rows = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, seconds, nbytes=0, nrows=0):
        with self.lock:
            self.lat.append(seconds)
            self.bytes += nbytes
            self.rows += nrows

    def fail(self, error: str):
        with self.lock:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(error)

    @property
    def attempted(self) -> int:
        return len(self.lat) + self.failed


def pct(values, q) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


def day_iso(day: int) -> str:
    return (datetime(2024, 1, 1) + timedelta(days=day)).strftime("%Y-%m-%d")


def month_iso(month: int) -> str:
    return f"{1995 + month // 12}-{month % 12 + 1:02d}-01"


def sql_ts(iso: str) -> str:
    return f"TIMESTAMP '{iso} 00:00:00'"


# ---------------------------------------------------------------------------
# HTTP client and output checks
# ---------------------------------------------------------------------------

def post(port: int, path: str, body: dict, rid: str | None = None):
    """One request on its own connection (the server speaks HTTP/1.0).
    Returns (status, payload bytes, seconds)."""
    headers = {"Content-Type": "application/json"}
    if rid is not None:
        headers["X-Bench-Request-Id"] = rid
    conn = HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        t0 = time.perf_counter()
        conn.request("POST", path, json.dumps(body), headers)
        resp = conn.getresponse()
        payload = resp.read()
        return resp.status, payload, time.perf_counter() - t0
    finally:
        conn.close()


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, tuple):
        return "(" + ",".join(_sort_key(x) for x in v) + ")"
    return repr(v)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want) -> bool:
    """Equal as multisets of rows: row order is not part of the check and
    floating sums may differ in their last bits (partial aggregates
    merge in arrival order)."""
    g = sorted((_canon(r) for r in got), key=_sort_key)
    w = sorted((_canon(r) for r in want), key=_sort_key)
    return _close(tuple(g), tuple(w))


def req_key(path: str, body: dict) -> str:
    return json.dumps([path, body], sort_keys=True)


def no_cache(body: dict) -> dict:
    return {**body, "context": {**(body.get("context") or {}),
                                "useCache": False}}


# ---------------------------------------------------------------------------
# Served load
# ---------------------------------------------------------------------------

class Stream:
    """The seeded request sequence, drawn on demand and handed out in
    order to every client."""

    def __init__(self, requests):
        self._requests = requests
        self._lock = threading.Lock()
        self._rid = 0

    def take(self):
        with self._lock:
            self._rid += 1
            return next(self._requests), f"r{self._rid}"


def closed_loop(port, stream, clients, seconds, tally, check=None):
    """``clients`` threads, each sending its next request when the last
    one returns, until ``seconds`` pass. Every response must be a 200
    that parses; ``check(path, body, rows)`` may reject it too. Returns
    the elapsed seconds."""
    deadline = time.perf_counter() + seconds

    def client():
        while time.perf_counter() < deadline:
            (path, body), rid = stream.take()
            try:
                status, payload, dt = post(port, path, body, rid)
                if status != 200:
                    raise ValueError(f"HTTP {status} {payload[:200]!r}")
                rows = json.loads(payload)
                if check is not None and not check(path, body, rows):
                    raise ValueError(f"wrong result for {json.dumps(body)}")
            except Exception as e:  # noqa: BLE001 — one request's failure
                tally.fail(f"{path}: {e!r}")
                continue
            tally.add(dt, len(payload), len(rows))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def answer_all(port, requests, clients) -> list:
    """Parsed answers to ``requests`` (useCache off), ``clients`` at a
    time; any non-200 is a set-up failure."""
    def one(req):
        path, body = req
        status, payload, _ = post(port, path, no_cache(body))
        if status != 200:
            raise RuntimeError(f"set-up request failed: HTTP {status} "
                               f"{payload[:300]!r} for {json.dumps(body)}")
        return json.loads(payload)
    with ThreadPoolExecutor(clients) as pool:
        return list(pool.map(one, requests))


def median_setup(build, close):
    """Run ``build(i)`` SETUPS times, closing all but the last; returns
    (median seconds, last built state, every set-up's seconds)."""
    times, state = [], None
    for i in range(SETUPS):
        if state is not None:
            close(state)
        t0 = time.perf_counter()
        state = build(i)
        times.append(time.perf_counter() - t0)
    return float(np.median(times)), state, times


def served_metrics(res, tally, elapsed, setup_s):
    """End-to-end metrics of a served run. p90 is the highest percentile
    with at least ten samples beyond it at the rate this benchmark
    sees."""
    res.metrics["setup_s"] = (setup_s, "s")
    res.metrics["latency_p50_ms"] = (pct(tally.lat, 50) * 1e3, "ms")
    res.metrics["latency_p90_ms"] = (pct(tally.lat, 90) * 1e3, "ms")
    res.metrics["throughput_per_s"] = (len(tally.lat) / elapsed, "1/s")
    res.metrics["rows_per_s"] = (tally.rows / elapsed, "1/s")
    beyond = sum(1 for x in tally.lat if x > pct(tally.lat, 90))
    res.notes.append(f"samples {len(tally.lat)}, {beyond} beyond p90")


def layer_metrics(res, tracer, tally, base_s, traced_s, rids, n_ops,
                  extra=None):
    """Per-layer metrics from the traced slices, per operation (request or
    operator call) unless the name says otherwise. ``base_s`` and
    ``traced_s`` are the same latency measured untraced and traced."""
    selfs = tracer.self_times()
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        if s.end is not None:
            by_name.setdefault(s.name, []).append(s)

    def self_ms(*names):
        return sum(selfs[s.sid] for n in names
                   for s in by_name.get(n, ())) * 1e3 / max(1, n_ops)

    def calls(name):
        return len(by_name.get(name, ())) / max(1, n_ops)

    gets = by_name.get("server.cache.get", [])
    hits = sum(1 for s in gets if s.attrs.get("hit"))
    served = len(by_name.get("server.do_POST", ()))
    spark = tracer.spark_stats(rids)
    m = {name: 0.0 for name in PER_LAYER}
    m.update({
        "server.self_ms": self_ms("server.do_POST", "server.cache.get",
                                  "server.cache.put"),
        "server.response_bytes": tally.bytes / max(1, served),
        "server.cache.lookups": float(len(gets)),
        "server.cache.hits": float(hits),
        "server.cache.hit_ratio": hits / len(gets) if gets else 0.0,
        "sql.druid_sql_ms": self_ms("sql.druid_sql"),
        "sql.druid_sql_calls": calls("sql.druid_sql"),
        "plans.compile_query_ms": self_ms("plans.compile_query"),
        "plans.compile_query_calls": calls("plans.compile_query"),
        "exec.collect_ms": self_ms("exec.run_with_timeout", "exec.collect"),
        "results.format_self_ms": self_ms("results.format_results",
                                          "results.scan_result_values"),
        "results.rows": tally.rows / max(1, served),
        "trace.overhead_pct": (traced_s - base_s) / base_s * 100.0,
    })
    for k, v in spark.items():
        m[f"exec.{k}"] = v / max(1, n_ops)
    m.update(extra or {})
    res.metrics = {k: (float(v), PER_LAYER[k][0]) for k, v in m.items()}


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

# Each template takes the seeded generator and its own call count ``k``.
# The seed draws interval starts and filter values; ``k`` rotates the
# parameters that set a result's size (granularity, interval length,
# threshold), so every seed returns results of the same sizes.

def _pick(rng, values) -> str:
    return str(rng.choice(values))


def _days(rng, days):
    """A seeded ``days``-long interval within the events' month."""
    start = int(rng.integers(0, data.EVENT_DAYS - days + 1))
    return day_iso(start), day_iso(start + days)


def _months(rng, months):
    """A seeded ``months``-long interval within the orders' years."""
    start = int(rng.integers(0, data.ORDER_MONTHS - months + 1))
    return month_iso(start), month_iso(start + months)


def _t_timeseries(rng, k):
    a, b = _days(rng, 1 + k % 5)
    return "/druid/v2", {
        "queryType": "timeseries", "dataSource": "events",
        "granularity": ["hour", "day"][k % 2], "intervals": [f"{a}/{b}"],
        "filter": {"type": "selector", "dimension": "event_type",
                   "value": _pick(rng, data.EVENT_TYPES)},
        "aggregations": [{"type": "count", "name": "cnt"},
                         {"type": "doubleSum", "name": "value",
                          "fieldName": "value"}]}


def _t_topn(rng, k):
    a, b = _months(rng, 1 + k % 4)
    return "/druid/v2", {
        "queryType": "topN", "dataSource": "orders", "granularity": "all",
        "intervals": [f"{a}/{b}"],
        "dimension": ["o_orderpriority", "o_orderstatus"][k % 2],
        "metric": "revenue", "threshold": [2, 3, 5][k % 3],
        "aggregations": [{"type": "doubleSum", "name": "revenue",
                          "fieldName": "o_totalprice"},
                         {"type": "count", "name": "cnt"}]}


def _t_groupby(rng, k):
    a, b = _days(rng, 1 + k % 7)
    width = [100, 500][(k // 2) % 2]
    lo = int(rng.integers(0, data.N_USERS - width))
    return "/druid/v2", {
        "queryType": "groupBy", "dataSource": "events",
        "granularity": ["all", "day"][k % 2], "intervals": [f"{a}/{b}"],
        "dimensions": ["event_type"],
        "filter": {"type": "bound", "dimension": "user_id",
                   "lower": str(lo), "upper": str(lo + width),
                   "upperStrict": True, "ordering": "numeric"},
        "aggregations": [{"type": "count", "name": "cnt"},
                         {"type": "doubleSum", "name": "value",
                          "fieldName": "value"}]}


def _t_search(rng, k):
    return "/druid/v2", {
        "queryType": "search", "dataSource": "customer",
        "intervals": ["1970/2100"], "searchDimensions": ["c_name"],
        "query": {"type": "insensitive_contains",
                  "value": f"{int(rng.integers(0, 10_000)):04d}"},
        "limit": 10}


def _t_timeboundary(rng, k):
    if k % 2:
        a, b = _months(rng, 1 + k % 12)
        ds = "orders"
    else:
        a, b = _days(rng, 1 + k % 10)
        ds = "events"
    return "/druid/v2", {"queryType": "timeBoundary", "dataSource": ds,
                         "intervals": [f"{a}/{b}"]}


def _t_sql_time_floor(rng, k):
    a, b = _days(rng, 1 + k % 5)
    period = ["PT1H", "P1D"][k % 2]
    et = _pick(rng, data.EVENT_TYPES)
    return "/druid/v2/sql", {"query": (
        f"SELECT TIME_FLOOR(__time, '{period}') AS t, COUNT(*) AS cnt, "
        f"SUM(\"value\") AS total FROM events WHERE __time >= {sql_ts(a)} "
        f"AND __time < {sql_ts(b)} AND event_type = '{et}' GROUP BY 1")}


def _t_sql_filtered_groupby(rng, k):
    users = int(rng.integers(100, data.N_USERS))
    v = round(float(rng.uniform(0, 200)), 2)
    return "/druid/v2/sql", {"query": (
        f"SELECT event_type, COUNT(*) AS cnt, SUM(\"value\") AS total "
        f"FROM events WHERE user_id < {users} AND \"value\" > {v} "
        f"GROUP BY event_type")}


def _t_sql_join(rng, k):
    a, b = _months(rng, 1 + k % 4)
    status = _pick(rng, data.STATUSES)
    return "/druid/v2/sql", {"query": (
        f"SELECT c.c_mktsegment, COUNT(*) AS cnt, "
        f"SUM(o.o_totalprice) AS revenue FROM orders o JOIN customer c "
        f"ON o.o_custkey = c.c_custkey WHERE o.__time >= {sql_ts(a)} "
        f"AND o.__time < {sql_ts(b)} AND o.o_orderstatus = '{status}' "
        f"GROUP BY 1")}


def _t_sql_count_distinct(rng, k):
    a, b = _days(rng, 1 + k % 7)
    v = round(float(rng.uniform(0, 100)), 2)
    return "/druid/v2/sql", {"query": (
        f"SELECT event_type, COUNT(DISTINCT user_id) AS users FROM events "
        f"WHERE __time >= {sql_ts(a)} AND __time < {sql_ts(b)} "
        f"AND \"value\" > {v} GROUP BY 1")}


def _t_sql_lookup(rng, k):
    bal = int(rng.integers(-900, 9900))
    return "/druid/v2/sql", {"query": (
        f"SELECT LOOKUP(CAST(c_nationkey AS VARCHAR), 'nation_name') "
        f"AS nation, COUNT(*) AS cnt FROM customer WHERE c_acctbal > {bal} "
        f"GROUP BY 1")}


def _t_sql_edits(rng, k):
    country = _pick(rng, data.COUNTRIES)
    return "/druid/v2/sql", {"query": (
        f"SELECT channel, SUM(cnt) AS edits, SUM(added) AS added "
        f"FROM {INGEST_DS} WHERE country = '{country}' GROUP BY 1")}


def _t_edits_users(rng, k):
    dim, fdim, vals = [("country", "channel", data.CHANNELS),
                       ("channel", "country", data.COUNTRIES)][k % 2]
    return "/druid/v2", {
        "queryType": "groupBy", "dataSource": INGEST_DS,
        "granularity": "all", "intervals": ["2024-01-01/2024-01-02"],
        "dimensions": [dim],
        "filter": {"type": "selector", "dimension": fdim,
                   "value": _pick(rng, vals)},
        "aggregations": [{"type": "longSum", "name": "edits",
                          "fieldName": "cnt"},
                         {"type": "HLLSketchMerge", "name": "users",
                          "fieldName": "users"}]}


DASHBOARD_TEMPLATES = [
    _t_timeseries, _t_topn, _t_groupby, _t_search, _t_timeboundary,
    _t_sql_time_floor, _t_sql_filtered_groupby, _t_sql_join,
    _t_sql_count_distinct, _t_sql_lookup, _t_sql_edits, _t_edits_users,
]


def dashboard_stream(seed: int):
    """(request iterator, checked requests). Every fourth request repeats
    one of the hot set; the others are fresh draws, so they rarely
    repeat. Templates come in a fixed rotation, so every seed sends the
    same mix of query shapes. The checked requests are the hot set and
    the first fresh draw of every template."""
    rng = np.random.default_rng([seed, 1])
    n = len(DASHBOARD_TEMPLATES)
    calls = [itertools.count() for _ in range(n)]

    def draw(i):
        return DASHBOARD_TEMPLATES[i % n](rng, next(calls[i % n]))

    hot = [draw(i) for i in range(HOT)]
    fresh = (draw(i) for i in itertools.count())
    first = [next(fresh) for _ in range(n)]
    every = round(1 / HOT_SHARE)

    def requests():
        cold = itertools.chain(first, fresh)
        for i in itertools.count():
            if i % every == every - 1:
                yield hot[(i // every) % HOT]
            else:
                yield next(cold)

    return requests(), hot + first


def dashboard(ctx: Context) -> Result:
    import shutil

    from apache_druid_spark.server.http import DruidHttpServer

    edits = os.path.join(ctx.run_dir, "edits.json")
    data.write_json_lines(edits, data.edit_batch(
        np.random.default_rng([ctx.seed, 2]), INGEST_ROWS))
    # one request per template, drawn apart from the stream: warming
    # with useCache off leaves the result cache empty
    warm_rng = np.random.default_rng([ctx.seed, 0])
    warm = [t(warm_rng, 0) for t in DASHBOARD_TEMPLATES]
    tracer = Tracer(ctx.spark) if ctx.trace else None
    published: list[dict] = []

    def build(k):
        reg = data.register_tables(ctx.spark)
        seg = os.path.join(ctx.run_dir, f"segments{k}")
        publish_edits(ctx, reg, edits, seg, tracer)
        if tracer is not None:
            published.append(segment_stats(edits, seg))
        srv = DruidHttpServer(ctx.spark, reg, port=0)
        srv.start()
        answer_all(srv.port, warm, ctx.clients)
        return srv, seg

    def close(state):
        state[0].stop()
        shutil.rmtree(state[1], ignore_errors=True)

    setup_s, (srv, _), times = median_setup(build, close)
    try:
        requests, checked = dashboard_stream(ctx.seed)
        t0 = time.perf_counter()
        refs = dict(zip((req_key(*r) for r in checked),
                        answer_all(srv.port, checked, ctx.clients)))
        refs_s = time.perf_counter() - t0

        def check(path, body, rows):
            want = refs.get(req_key(path, body))
            return want is None or same_rows(rows, want)

        res = Result()
        res.notes.append("setup_s each " + json.dumps(
            [round(t, 3) for t in times]))
        res.notes.append(f"reference answers {len(refs)} in {refs_s:.2f} s")
        stream = Stream(requests)
        tally = Tally()
        if tracer is not None:
            traced = Tally()

            def run_slice(seconds, on):
                if on:
                    tracer.install_served(srv)
                try:
                    closed_loop(srv.port, stream, ctx.clients, seconds,
                                traced if on else tally, check)
                finally:
                    tracer.uninstall()

            traced_slices(ctx.seconds, run_slice)
            finish_served_trace(ctx, res, tracer, tally, traced,
                                ingest_metrics(tracer, published))
        else:
            elapsed = closed_loop(srv.port, stream, ctx.clients,
                                  ctx.seconds, tally, check)
            served_metrics(res, tally, elapsed, setup_s)
            res.attempted, res.failed = tally.attempted, tally.failed
        res.notes += tally.errors
        return res
    finally:
        srv.stop()


def traced_slices(seconds, run_slice):
    """Call ``run_slice(seconds / 2, traced)`` four times, untraced and
    traced in turn: both sides get ``seconds`` in total, and alternating
    keeps warm-up drift out of the tracing overhead."""
    for i in range(4):
        run_slice(seconds / 2, i % 2 == 1)


def finish_served_trace(ctx, res, tracer, base, traced, extra=None):
    rids = [s.rid for s in tracer.spans if s.name == "server.do_POST"]
    layer_metrics(res, tracer, traced, pct(base.lat, 50),
                  pct(traced.lat, 50), rids, len(rids), extra)
    res.attempted = base.attempted + traced.attempted
    res.failed = base.failed + traced.failed
    res.notes += traced.errors
    dump_spans(ctx, tracer)


def dump_spans(ctx, tracer):
    out = os.path.join(os.path.dirname(os.path.dirname(ctx.run_dir)),
                       ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{os.path.basename(ctx.run_dir)}.jsonl")
    tracer.dump(path)


# ---------------------------------------------------------------------------
# ingest (runs in the dashboard's set-up)
# ---------------------------------------------------------------------------

INGEST_DS = "edits"


def ingest_spec(path: str) -> dict:
    return {
        "ioConfig": {"inputSource": {"type": "local", "files": [path]},
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


def publish_edits(ctx, registry, path, seg_dir, tracer=None) -> None:
    """Ingest ``path`` with minute rollup, write it as day segments and
    register the published set as ``edits``. With a tracer, each step is
    a span under one ``ingest.publish`` operation."""
    from apache_druid_spark.ingest import batch

    ingest, write = batch.ingest, batch.write_segments
    register = registry.register_published
    op = contextlib.nullcontext()
    if tracer is not None:
        ingest = tracer.wrap(ingest, "ingest.ingest")
        write = tracer.wrap(write, "ingest.write_segments")
        register = tracer.wrap(register, "model.register_published")
        op = tracer.operation("ingest.publish",
                              f"publish-{os.path.basename(seg_dir)}")
    with op:
        write(ingest(ctx.spark, ingest_spec(path)), seg_dir, "day")
        register(INGEST_DS, seg_dir)


def segment_stats(path: str, seg_dir: str) -> dict:
    """What one publish read and wrote."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(seg_dir, "__segment=*", "*.parquet"))
    return {"rows_in": INGEST_ROWS, "in_bytes": os.path.getsize(path),
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows_out": sum(pq.ParquetFile(f).metadata.num_rows
                            for f in files)}


def ingest_metrics(tracer, stats: list[dict]) -> dict:
    """Per-publish ingest and model metrics from the traced set-ups."""
    dur = {n: [s.end - s.start for s in tracer.spans
               if s.name == n and s.end is not None]
           for n in ("ingest.ingest", "ingest.write_segments",
                     "model.register_published", "ingest.publish")}

    def mean_ms(n):
        return float(np.mean(dur[n])) * 1e3 if dur[n] else 0.0

    n = max(1, len(stats))
    rows_in = sum(s["rows_in"] for s in stats)
    rows_out = sum(s["rows_out"] for s in stats)
    return {
        "ingest.ingest_ms": mean_ms("ingest.ingest"),
        "ingest.write_segments_ms": mean_ms("ingest.write_segments"),
        "model.register_published_ms": mean_ms("model.register_published"),
        "ingest.publish_p50_ms": pct(dur["ingest.publish"], 50) * 1e3,
        "ingest.rows_in": rows_in / n,
        "ingest.rows_out": rows_out / n,
        "ingest.rollup_ratio": rows_out / max(1, rows_in),
        "ingest.bytes_written_per_input_byte":
            sum(s["bytes"] for s in stats)
            / max(1, sum(s["in_bytes"] for s in stats)),
        "ingest.files_written": sum(s["files"] for s in stats) / n,
    }


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

def pipeline_chain():
    """(name, operator) in chain order; each maps documents to a frame."""
    from pyspark.sql import functions as F

    from apache_druid_spark import pipeline as P

    def dsir(docs):
        en = F.col("lang") == "en"
        return P.importance_weights(docs, docs.filter(en), n_buckets=1024,
                                    target_predicate=en)

    ops = {"exact_dedup": P.exact_dedup,
           "minhash_lsh_pairs": P.minhash_lsh_pairs,
           "ngram_jaccard_pairs": P.ngram_jaccard_pairs,
           "tfidf_top_terms": P.tfidf_top_terms,
           "importance_weights": dsir,
           "gopher_rules": P.gopher_rules}
    return [(name, ops[name]) for name in PIPELINE_OPS]


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent hash) of an operator's output."""
    text = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return len(rows), hashlib.md5(text.encode()).hexdigest()


def chain_ms(lat: dict, q: float) -> float:
    """The chain's ``q``-th percentile time: each operator's percentile
    over its own calls, summed in chain order. Operators differ in cost,
    so percentiles over all calls would follow the mix, not the chain."""
    return sum(pct(v, q) for v in lat.values() if v) * 1e3


def pipeline(ctx: Context) -> Result:
    from apache_druid_spark import DatasourceRegistry

    corpus = os.path.join(ctx.run_dir, "documents.parquet")
    data.sample_documents(corpus, ctx.seed, PIPELINE_DOCS)
    chain = pipeline_chain()

    digests = []

    def build(_):
        # loading the corpus and one pass of the chain over it: the pass
        # JIT-warms exactly the plans the measured chains run, and its
        # outputs are the reference every measured output must match
        reg = DatasourceRegistry(ctx.spark)
        docs = reg.register_parquet("documents", corpus)
        digests.append({name: digest(op(docs).collect())
                        for name, op in chain})
        return docs

    setup_s, docs, times = median_setup(build, lambda d: None)
    ref = digests[-1]
    if any(d != ref for d in digests):
        raise RuntimeError(f"set-up chains disagree: {digests}")
    res = Result()
    res.notes.append("setup_s each " + json.dumps(
        [round(t, 3) for t in times]))
    calls = itertools.count()
    # latencies per operator, untraced (False) and traced (True)
    lat = {on: {name: [] for name in PIPELINE_OPS} for on in (False, True)}
    rids: dict[str, list] = {name: [] for name in PIPELINE_OPS}

    def phase(seconds, tally, tracer=None):
        """Whole passes of the chain, so every operator runs equally
        often, until ``seconds`` pass; returns the elapsed seconds."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            for name, op in chain:
                rid = f"{name}-{next(calls)}"
                t1 = time.perf_counter()
                if tracer is None:
                    rows = op(docs).collect()
                else:
                    with tracer.operation(f"pipeline.{name}", rid):
                        sp = tracer.open(f"pipeline.{name}.build")
                        df = op(docs)
                        tracer.close(sp)
                        sp = tracer.open("exec.collect")
                        rows = df.collect()
                        tracer.close(sp)
                    rids[name].append(rid)
                dt = time.perf_counter() - t1
                got = digest(rows)
                if got != ref[name]:
                    tally.fail(f"{name}: {got} != setup {ref[name]}")
                    continue
                lat[tracer is not None][name].append(dt)
                tally.add(dt)
        return time.perf_counter() - t0

    tally = Tally()
    if ctx.trace:
        tracer, traced = Tracer(ctx.spark), Tally()
        traced_slices(ctx.seconds, lambda seconds, on: phase(
            seconds, traced if on else tally, tracer if on else None))
        extra = {}
        for name in PIPELINE_OPS:
            mine = set(rids[name])
            n = max(1, len(mine))

            def total_ms(span):
                return sum(s.end - s.start for s in tracer.spans
                           if s.name == span and s.rid in mine) * 1e3

            st = tracer.spark_stats(rids[name])
            extra[f"pipeline.{name}.build_ms"] = total_ms(
                f"pipeline.{name}.build") / n
            extra[f"pipeline.{name}.exec_ms"] = total_ms("exec.collect") / n
            extra[f"pipeline.{name}.stages"] = st["stages"] / n
            extra[f"pipeline.{name}.shuffle_bytes"] = (
                st["shuffle_read_bytes"] + st["shuffle_write_bytes"]) / n
        all_rids = [r for name in PIPELINE_OPS for r in rids[name]]
        layer_metrics(res, tracer, traced, chain_ms(lat[False], 50),
                      chain_ms(lat[True], 50), all_rids, len(all_rids),
                      extra)
        dump_spans(ctx, tracer)
        res.attempted = tally.attempted + traced.attempted
        res.failed = tally.failed + traced.failed
        res.notes += traced.errors
    else:
        elapsed = phase(ctx.seconds, tally)
        p50 = chain_ms(lat[False], 50)
        res.metrics["setup_s"] = (setup_s, "s")
        res.metrics["latency_p50_ms"] = (p50, "ms")
        res.metrics["latency_p90_ms"] = (chain_ms(lat[False], 90), "ms")
        res.metrics["throughput_per_s"] = (len(tally.lat) / elapsed, "1/s")
        res.metrics["rows_per_s"] = (PIPELINE_DOCS / p50 * 1e3, "1/s")
        res.attempted, res.failed = tally.attempted, tally.failed
        res.notes.append(f"{len(tally.lat) // len(chain)} chain passes over "
                         f"{PIPELINE_DOCS} documents in {elapsed:.1f} s")
        res.notes.append("operator p50 ms " + json.dumps(
            {name: round(pct(v, 50) * 1e3)
             for name, v in lat[False].items()}))
    res.notes += tally.errors
    return res


WORKLOADS = {"dashboard": dashboard, "pipeline": pipeline}
