"""Spans around the calls into each layer, recorded from the benchmark's
own code by wrapping the public functions the server and the workloads
call. Nothing in the package changes: ``Tracer.install_served`` swaps
module and class attributes for traced wrappers and
``Tracer.uninstall`` puts the originals back.

A span records its name, start, end, parent span and request id. Spans
are kept in memory and written out once, at the end of the run. Self
time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time

# (module, attribute, span name): the functions a served request passes
# through. ``compile_query`` is wrapped under both names the server
# reaches it by; the compiler's own recursive calls go through the
# module attribute too, so nested compiles become child spans.
SERVED_FUNCS = [
    ("apache_druid_spark.server.http", "druid_sql", "sql.druid_sql"),
    ("apache_druid_spark.server.http", "compile_query",
     "plans.compile_query"),
    ("apache_druid_spark.plans.compiler", "compile_query",
     "plans.compile_query"),
    ("apache_druid_spark.server.http", "format_results",
     "results.format_results"),
    ("apache_druid_spark.sql.results", "scan_result_values",
     "results.scan_result_values"),
    ("apache_druid_spark.plans.timeout", "run_with_timeout",
     "exec.run_with_timeout"),
]


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None,
                 rid: str | None):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.rid = rid
        self.start = time.perf_counter()
        self.end: float | None = None
        self.attrs: dict = {}


class Tracer:
    """Collects spans from every thread. A thread's open spans form a
    stack; the root span of an operation carries its request id and
    names the Spark job group its jobs run under."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, rid: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None and parent is not None:
            rid = parent.rid
        span = Span(next(self._ids), name,
                    parent.sid if parent is not None else None, rid)
        st.append(span)
        self.spans.append(span)  # list.append is atomic under the GIL
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()

    def operation(self, name: str, rid: str):
        """Context manager for the root span of one operation (a request,
        a publish, an operator call). Its Spark jobs run under the job
        group ``bench-<rid>``, set on the calling thread."""
        tracer = self
        sc = self.spark.sparkContext

        class _Op:
            def __enter__(self):
                sc.setJobGroup(f"bench-{rid}", name, False)
                self.span = tracer.open(name, rid)
                return self.span

            def __exit__(self, *exc):
                tracer.close(self.span)
                sc.setLocalProperty("spark.jobGroup.id", None)
                return False

        return _Op()

    def wrap(self, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, out)
                return out
            finally:
                self.close(span)
        return traced

    # -- installation ---------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install_served(self, server) -> None:
        """Wrap the served path: the HTTP handler, the result cache and
        the functions in ``SERVED_FUNCS``."""
        for mod, attr, name in SERVED_FUNCS:
            m = importlib.import_module(mod)
            self._patch(m, attr, self.wrap(getattr(m, attr), name))

        if server.cache is not None:
            cache_cls = type(server.cache)

            def hit(span, out):
                span.attrs["hit"] = out is not None
            self._patch(cache_cls, "get",
                        self.wrap(cache_cls.get, "server.cache.get", hit))
            self._patch(cache_cls, "put",
                        self.wrap(cache_cls.put, "server.cache.put"))

        handler = server._httpd.RequestHandlerClass
        do_post = handler.do_POST
        tracer = self

        def traced_post(h):
            rid = h.headers.get("X-Bench-Request-Id") or "unknown"
            with tracer.operation("server.do_POST", rid):
                do_post(h)
        self._patch(handler, "do_POST", traced_post)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)

    # -- analysis -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id -> self seconds: duration minus the union of its
        children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            if s.end is None:
                continue
            covered = 0.0
            lo_run = hi_run = None
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if hi_run is None or lo > hi_run:
                    if hi_run is not None:
                        covered += hi_run - lo_run
                    lo_run, hi_run = lo, hi
                else:
                    hi_run = max(hi_run, hi)
            if hi_run is not None:
                covered += hi_run - lo_run
            out[s.sid] = max(0.0, (s.end - s.start) - covered)
        return out

    def spark_stats(self, rids) -> dict:
        """Jobs, stages, tasks, executor run time, shuffle and spill of
        the job groups of the given request ids, read from the status
        tracker and the status store."""
        from py4j.protocol import Py4JJavaError

        jsc = self.spark.sparkContext._jsc
        tracker = jsc.statusTracker()
        store = jsc.sc().statusStore()
        tot = dict(jobs=0, stages=0, tasks=0, executor_run_ms=0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0,
                   spill_bytes=0)
        seen: set[int] = set()
        for rid in rids:
            for jid in tracker.getJobIdsForGroup(f"bench-{rid}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                tot["jobs"] += 1
                for sid in info.stageIds():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped: the stage never ran
                    if st.status().toString() != "COMPLETE":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks()
                    tot["executor_run_ms"] += st.executorRunTime()
                    tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    tot["spill_bytes"] += (st.memoryBytesSpilled()
                                           + st.diskBytesSpilled())
        return tot

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "rid": s.rid,
                    "self": selfs.get(s.sid), **s.attrs}) + "\n")
