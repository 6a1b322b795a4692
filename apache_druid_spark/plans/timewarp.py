"""TimewarpOperator — the reference's period-over-period post-processor
(processing/src/main/java/org/apache/druid/query/TimewarpOperator.java).

A query over a CURRENT window is warped back onto a reference data
interval: the query's intervals shift forward by a computed offset into
the data, and result timestamps shift back so the rows line up under
the original window (the classic "this week vs that golden week"
dashboard). The offset lands `now` inside the last full period of
``dataInterval``, aligned on ``origin``, with a timezone correction so
wall-clock alignment survives a DST boundary
(TimewarpOperator.java:computeOffset; TimewarpOperatorTest pins
2014-08-02 -> 2014-01-11 under P1W anchored on a Monday).

Deterministic `now` comes from ``context.timewarpNow`` (epoch millis);
without it, wall-clock now. Periods must be day/time-based (P1M has no
fixed millis — same failure as the reference's toStandardDuration).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model.granularity import (
    tz_offset_ms, iso_of, parse_instant, parse_interval, parse_period,
)


def period_to_millis(p: str) -> int:
    months, millis = parse_period(p, allow_mixed=True)
    if months:
        raise ValueError(
            f"timewarp period {p!r} does not map to a fixed duration "
            "(months/years vary — same contract as Period.toStandardDuration)")
    return millis


class TimewarpOperator:
    def __init__(self, data_interval: str, period: str,
                 origin: str | None = None):
        self.data_start, self.data_end = parse_interval(data_interval)
        self.period_millis = period_to_millis(period)
        self.origin_millis = parse_instant(origin) if origin else 0

    def compute_offset(self, t: int, tz: str | None = None) -> int:
        """Exact port of TimewarpOperator.computeOffset."""
        p = self.period_millis
        start = self.data_end - p
        start_offset = start % p - self.origin_millis % p
        if start_offset < 0:
            start_offset += p
        start -= start_offset
        t_offset = t % p - self.origin_millis % p
        if t_offset < 0:
            t_offset += p
        t_offset += start
        return (t_offset - t
                - (tz_offset_ms(tz, t_offset) - tz_offset_ms(tz, t)))

    def warp_intervals(self, intervals: list[str], now: int,
                       tz: str | None = None) -> tuple[list[str], int]:
        """The query's intervals shifted into the data window (clamped
        at now + offset), plus the offset for unshifting results."""
        offset = self.compute_offset(now, tz)
        out = []
        for iv in intervals:
            s_ms, e_ms = (min(t + offset, now + offset)
                          for t in parse_interval(iv))
            out.append(f"{iso_of(s_ms)}/{iso_of(e_ms)}")
        return out, offset


def apply_timewarp(q: dict, spec: dict, registry, compile_fn) -> DataFrame:
    """postProcessing: [{"type": "timewarp", ...}] — warp the inner
    query's intervals forward, run it, shift every timestamp column of
    the result back. timeBoundary's row time and maxTime clamp at now
    (TimewarpOperator.java:96-110); every other result shifts plainly.
    """
    op = TimewarpOperator(spec["dataInterval"], spec["period"],
                          spec.get("origin"))
    ctx = q.get("context") or {}
    now = int(ctx["timewarpNow"]) if ctx.get("timewarpNow") is not None \
        else int(time.time() * 1000)
    gran = q.get("granularity")
    tz = gran.get("timeZone") if isinstance(gran, dict) else None

    inner = {k: v for k, v in q.items() if k != "postProcessing"}
    warped, offset = op.warp_intervals(q.get("intervals") or [], now, tz)
    if warped:
        inner["intervals"] = warped
    df = compile_fn(inner, registry)

    is_timeboundary = q.get("queryType") == "timeBoundary"
    for fld in df.schema.fields:
        if not isinstance(fld.dataType, (T.TimestampType, T.TimestampNTZType)):
            continue
        shifted = F.timestamp_millis(F.unix_millis(F.col(fld.name))
                                     - F.lit(offset))
        if is_timeboundary and fld.name in ("__time", "maxTime"):
            shifted = F.least(shifted, F.timestamp_millis(F.lit(now)))
        df = df.withColumn(fld.name, shifted)
    return df
