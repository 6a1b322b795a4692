"""Property-based granularity tests (hypothesis) — beyond the
reference's test strategy (SURVEY §5 notes it has none).

Invariants for every granularity g and timestamp t:
  floor(t) <= t < shift(floor(t), g, 1)
  floor(floor(t)) == floor(t)          (idempotent)
  ceil(t) is floor(t) when aligned else shift(floor(t), 1)
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from apache_druid_spark.model.granularity import (
    bucket_sql, instant_sql, parse_instant, period_of, shift_sql,
    time_floor_col,
)

GRANS = [
    "hour", "day", "week", "month", "quarter", "year", "fifteen_minute",
    {"type": "period", "period": "P1W"},
    {"type": "period", "period": "P2W"},
    {"type": "period", "period": "P3M"},
    {"type": "period", "period": "PT6H"},
    {"type": "duration", "duration": 90 * 60_000},
    {"type": "duration", "duration": 45_000,
     "origin": "2000-01-01T00:00:07"},
]

def _ceil_sql(ts: str, gran) -> str:
    origin = gran.get("origin") if isinstance(gran, dict) else None
    return bucket_sql(ts, period_of(gran),
                      origin and instant_sql(parse_instant(origin)),
                      ceil=True)


TS = st.datetimes(min_value=datetime(1980, 1, 5),
                  max_value=datetime(2035, 12, 28))


@pytest.fixture(scope="module")
def floor_fn(spark):
    def run(ts: datetime, gran):
        df = spark.createDataFrame([(ts,)], "t timestamp")
        row = df.select(
            time_floor_col("t", gran).alias("f"),
            F.expr(_ceil_sql("t", gran)).alias("c"),
        ).first()
        nxt = (spark.createDataFrame([(row["f"],)], "t timestamp")
               .select(F.expr(shift_sql("t", period_of(gran), "1"))
                       .alias("n"),
                       time_floor_col("t", gran).alias("ff"))
               .first())
        return row["f"], row["c"], nxt["n"], nxt["ff"]
    return run


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ts=TS, gi=st.integers(0, len(GRANS) - 1))
def test_floor_ceil_shift_invariants(floor_fn, ts, gi):
    ts = ts.replace(microsecond=(ts.microsecond // 1000) * 1000)
    gran = GRANS[gi]
    f, c, nxt, ff = floor_fn(ts, gran)
    assert f <= ts, (gran, ts, f)
    assert ts < nxt, (gran, ts, f, nxt)
    assert ff == f, (gran, ts)           # idempotent
    if f == ts:
        assert c == ts
    else:
        assert c == nxt
