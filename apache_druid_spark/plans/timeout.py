"""Query lifecycle: ``query_scope`` owns a query's id, its ``timeout``
deadline (QueryContexts.TIMEOUT_KEY, QueryTimeoutException.java;
``timeout: 0`` = unlimited), its Spark jobs and what it persisted.

The scope tags the query's jobs and, from the deadline on, cancels
every job with the tag, interrupting running tasks. A tag, not a job
group: a thread has one group, which the caller may own (a benchmark
counting each request's jobs); tags add to it. Outside a scope
``run_with_timeout`` is a plain collect and ``persist`` a plain
persist, so batch callers (the bench, the pipeline) are unchanged.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading
import time
import uuid

from pyspark import StorageLevel

_INTERRUPT = "spark.job.interruptOnCancel"


class QueryTimeoutError(RuntimeError):
    """QueryTimeoutException.java: errorCode 'Query timeout'."""

    error_code = "Query timeout"
    error_class = "org.apache.druid.query.QueryTimeoutException"

    def __init__(self, timeout_ms: int):
        super().__init__(f"Query did not complete within {timeout_ms} ms")
        self.timeout_ms = timeout_ms


class QueryScope:
    """One query's id, job tag, deadline and persisted frames."""

    def __init__(self, query_id: str, timeout_ms: int):
        self.query_id = query_id
        self.tag = "druid-query-" + query_id.replace(",", "_")  # no commas
        self.timeout_ms = timeout_ms
        self.deadline = (time.monotonic() + timeout_ms / 1000.0
                         if timeout_ms > 0 else None)
        self.persisted: list = []

    def check(self) -> None:
        """Raise QueryTimeoutError once the deadline has passed."""
        if self.deadline is not None and time.monotonic() >= self.deadline:
            raise QueryTimeoutError(self.timeout_ms)


class _Canceller(threading.Timer):
    """Calls ``function`` at the deadline, then every 100 ms until
    cancelled: a Spark cancel reaches only jobs already submitted, and
    a query can submit more after its deadline."""

    def run(self):
        self.finished.wait(self.interval)
        while not self.finished.is_set():
            self.function(*self.args)
            self.finished.wait(0.1)


_CURRENT = contextvars.ContextVar("druid_query_scope", default=None)


@contextlib.contextmanager
def query_scope(spark, query: dict | None = None):
    """The scope of ``query`` (a request body) on the calling thread;
    the id is ``context.sqlQueryId`` / ``queryId``, generated when
    absent, and the deadline is fixed here, once. A nested call joins
    the open scope. On exit the tag is removed, ``interruptOnCancel``
    restored and every frame registered by ``persist`` unpersisted."""
    outer = _CURRENT.get()
    if outer is not None:
        yield outer
        return
    ctx = (query or {}).get("context") or {}
    try:
        timeout_ms = max(int(ctx.get("timeout") or 0), 0)
    except (TypeError, ValueError):
        timeout_ms = 0
    qid = ctx.get("sqlQueryId") or ctx.get("queryId") or uuid.uuid4()
    scope = QueryScope(str(qid), timeout_ms)
    sc = spark.sparkContext
    sc.addJobTag(scope.tag)
    timer = None
    if scope.deadline is not None:
        prior = sc.getLocalProperty(_INTERRUPT)
        sc.setInterruptOnCancel(True)
        timer = _Canceller(timeout_ms / 1000.0, sc.cancelJobsWithTag,
                           (scope.tag,))
        timer.daemon = True
        timer.start()
    token = _CURRENT.set(scope)
    try:
        yield scope
    finally:
        _CURRENT.reset(token)
        if timer is not None:
            timer.cancel()
            sc.setLocalProperty(_INTERRUPT, prior)
        sc.removeJobTag(scope.tag)
        # a plan still referencing an unpersisted frame re-scans its
        # source: unpersist never makes a plan wrong
        for df in scope.persisted:
            df.unpersist()


def persist(df, level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
    """``df.persist(level)``, unpersisted when the current query scope
    exits. Every intra-query persist goes through here."""
    df = df.persist(level)
    scope = _CURRENT.get()
    if scope is not None:
        scope.persisted.append(df)
    return df


def run_with_timeout(df) -> list:
    """``df.collect()`` on the calling thread, bound by the current
    scope's deadline: QueryTimeoutError if it has passed before the
    action starts, when the action fails or when it returns. Every
    served action runs through here; callers look it up at call time,
    so a tracer can wrap it."""
    scope = _CURRENT.get()
    if scope is None:
        return df.collect()
    scope.check()
    try:
        rows = df.collect()
    finally:
        scope.check()
    return rows
