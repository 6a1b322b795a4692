"""movingAverage query type (contrib moving-average-query extension).

Reference: extensions-contrib/moving-average-query/.../MovingAverageQuery.java
(dims + aggs + averagerSpecs + postAveragers over granularity buckets) and
averagers/BaseAverager.java: a ring buffer of the trailing `buckets`
granularity buckets per dimension combination, stepped by `cycleSize`
(averagers/BaseAveragerFactory.java:48), missing buckets contributing 0
to means (DoubleMeanAverager.java:31-46) or skipped by the NoNull
variants. The runner queries an interval extended backward by
buckets-1 periods so the first requested bucket has full history
(MovingAverageQueryRunner semantics).

Spark shape: inner groupBy per (bucket, dims) -> zero-filled grid
(dim combos x bucket sequence, one row per bucket so ROWS BETWEEN is
bucket-aligned) -> per-averager trailing-window collect + HOF fold ->
post-averagers/having/limit -> clip to requested intervals. All
expressions, no UDFs; the window partitions by dims so it scales with
the dimension cardinality, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_druid_spark.model.datasource import TIME_COLUMN
from apache_druid_spark.model.granularity import (
    MAX_INSTANT, MIN_INSTANT, instant_lit, instant_sql, iso_of,
    parse_interval, parse_period, period_of, shift_ms, time_floor_col,
)
from apache_druid_spark.operators.having import compile_having
from apache_druid_spark.operators.limitspec import apply_limit_spec
from apache_druid_spark.operators.postaggs import apply_post_aggregations


def compile_moving_average(q: dict, registry) -> DataFrame:
    from apache_druid_spark.plans.compiler import (
        _granularity_interval_sql, _intervals_of, compile_groupby,
        interval_predicate,
    )

    averagers = q.get("averagers", []) or []
    if not averagers:
        raise ValueError("movingAverage query needs averagers")
    n = max(int(a["buckets"]) for a in averagers)
    gran = q.get("granularity", "day")
    intervals = _intervals_of(q)
    if not intervals:
        raise ValueError("movingAverage query needs bounded intervals")

    # 1. inner groupBy over intervals extended back by n-1 buckets
    extended = []
    for iv in intervals:
        lo, hi = parse_interval(iv)
        if lo == MIN_INSTANT or hi == MAX_INSTANT:
            raise ValueError(
                f"movingAverage needs bounded intervals, got {iv!r}")
        extended.append((shift_ms(lo, gran, -(n - 1)), hi))
    inner_q = {
        "queryType": "groupBy",
        "dataSource": q["dataSource"],
        "granularity": gran,
        "intervals": [f"{iso_of(lo)}/{iso_of(hi)}" for lo, hi in extended],
        "virtualColumns": q.get("virtualColumns"),
        "filter": q.get("filter"),
        "dimensions": q.get("dimensions", []),
        "aggregations": q.get("aggregations", []),
        "postAggregations": q.get("postAggregations", []),
    }
    inner = compile_groupby(inner_q, registry)
    dims = [d if isinstance(d, str) else d.get("outputName", d["dimension"])
            for d in q.get("dimensions", []) or []]
    value_cols = [c for c in inner.columns if c not in (TIME_COLUMN, *dims)]

    # 2. zero-filled grid: every dim combo x every bucket
    step = _granularity_interval_sql(gran)
    seqs = []
    for lo, hi in extended:
        start = time_floor_col(instant_sql(lo), gran)
        stop = instant_lit(hi - 1)
        seqs.append(registry.spark.range(1).select(
            F.explode(F.sequence(start, stop, F.expr(f"INTERVAL {step}"))
                      ).alias(TIME_COLUMN)))
    buckets_df = seqs[0]
    for s in seqs[1:]:
        buckets_df = buckets_df.unionByName(s)
    if dims:
        # the dim-combo grid AND the zero-fill join both consume
        # `inner`; without materialization, column pruning strips the
        # aggregate columns out of the combos branch, the two partial
        # aggregates become structurally different, ReuseExchange
        # cannot fire, and the source is scanned+aggregated TWICE
        # (r18, `git show
        # e5b1048:plans/r18/moving_average_monthly_before.txt` — the
        # tfidf r17 disease). `inner` is a (bucket x dim-combo)
        # aggregate, bounded by the grid size, so persisting it is
        # cheap at any scale.
        from apache_druid_spark.plans.timeout import persist

        inner = persist(inner)
        combos = inner.select(*dims).distinct()
        grid = buckets_df.crossJoin(combos)
    else:
        grid = buckets_df
    filled = grid.join(inner, [TIME_COLUMN, *dims], "left")

    # 3. averagers over the trailing n-bucket window. With dims the
    # window partitions by dims; without, a bare orderBy would drag the
    # whole grid to one task — chunk it instead (operators/windows.py).
    order = [F.col(TIME_COLUMN).asc()]
    finalize = None
    if dims:
        w = (Window.partitionBy(*[F.col(d) for d in dims])
             .orderBy(*order).rowsBetween(-(n - 1), 0))
        out = filled
    else:
        from apache_druid_spark.operators.windows import (
            chunked_trailing_window, finalize_chunked,
        )

        months, millis = parse_period(period_of(gran))
        out, w = chunked_trailing_window(filled, TIME_COLUMN, n,
                                         months=months, millis=millis)
        finalize = finalize_chunked
    for spec in averagers:
        out = out.withColumn(spec["name"], _averager_col(spec, w))
    if finalize is not None:
        out = finalize(out)

    out = apply_post_aggregations(out, q.get("postAveragers", []), registry)

    # 4. clip to the requested intervals, then having/limit
    out = out.filter(interval_predicate(F.col(TIME_COLUMN), intervals))
    having = q.get("having")
    if having is not None:
        out = out.filter(compile_having(having, out, registry))
    out = apply_limit_spec(out, q.get("limitSpec"),
                           [F.col(TIME_COLUMN).asc()])
    if q.get("limitSpec") is None:
        out = out.orderBy(TIME_COLUMN, *dims)
    return out.select(TIME_COLUMN, *dims, *value_cols,
                      *[a["name"] for a in averagers],
                      *[p["name"] for p in q.get("postAveragers", []) or []])


def _averager_col(spec: dict, w) -> Column:
    """One averager -> window collect + HOF fold.

    The ring-buffer iteration `for (i = 0; i < numBuckets; i += cycleSize)`
    (DoubleMeanAverager.java:36) selects every cycleSize-th bucket from
    the OLDEST; collect_list over the frame is oldest-first, so the
    selector is index % cycleSize == 0. The zero-filled grid guarantees
    one row per bucket, so every emitted row's frame holds exactly
    `buckets` entries (the extended-interval prefix rows with shorter
    frames are clipped away before output)."""
    t = spec["type"]
    n = int(spec["buckets"])
    cycle = int(spec.get("cycleSize", 1))
    field = spec.get("fieldName")
    if t.startswith("constant"):
        return F.lit(float(spec.get("value", 0)))

    # struct-wrap so collect_list keeps empty-bucket nulls
    arr = F.collect_list(
        F.struct(F.col(field).cast("double").alias("v"))).over(w)
    sel = F.filter(arr, lambda x, i: i % F.lit(cycle) == 0)
    iterated = n // cycle

    def fold_sum(values: Column) -> Column:
        return F.aggregate(values, F.lit(0.0),
                           lambda acc, x: acc + F.coalesce(
                               x["v"], F.lit(0.0)))

    nonnull = F.filter(sel, lambda x: x["v"].isNotNull())
    base = t.replace("double", "").replace("long", "").lower()
    if base == "mean":
        col = fold_sum(sel) / F.lit(iterated)
    elif base == "meannonull":
        cnt = F.size(nonnull)
        col = F.when(cnt > 0, fold_sum(nonnull) / cnt)
    elif base == "sum":
        col = fold_sum(sel)
    elif base == "max":
        col = F.array_max(F.transform(nonnull, lambda x: x["v"]))
    elif base == "min":
        col = F.array_min(F.transform(nonnull, lambda x: x["v"]))
    else:
        raise ValueError(f"unknown averager type: {t!r}")
    if t.startswith("long") and base not in ("mean", "meannonull"):
        col = col.cast("long")
    return col
