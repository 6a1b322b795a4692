"""Native JSON query -> DataFrame compiler — the engine's core.

Reference entry points: the Jackson polymorphic Query registry
(processing/src/main/java/org/apache/druid/query/Query.java:54-63) and
the per-type engines under processing/src/main/java/org/apache/druid/query/
(timeseries/TimeseriesQueryEngine.java, topn/TopNQueryEngine.java,
groupby/epinephelinae/GroupByQueryEngineV2.java, scan/ScanQueryEngine.java,
search/, timeboundary/, metadata/, datasourcemetadata/).

Where Druid scatters per-segment engines and merges at the broker
(server/.../client/CachingClusteredClient.java), we emit ONE declarative
DataFrame plan per query and let Catalyst/Tungsten choose the physical
strategy: the per-segment partial aggregation + broker merge becomes
partial/final HashAggregate; the per-segment topN + merge becomes
TakeOrderedAndProject; interval pruning becomes partition/row-group
pruning driven by ``__time`` range predicates.

Divergences (documented, strictly-better):
  * topN is EXACT (Druid approximates per-segment,
    processing/.../topn/TopNQueryConfig.java:30).
  * ``select`` query type is removed in the reference
    (processing/.../query/select/SelectQuery.java:41-50) — not implemented.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from apache_druid_spark.model.datasource import (
    TIME_COLUMN, DatasourceRegistry, local_path,
)
from apache_druid_spark.model.granularity import (
    floor_ms, instant_lit, instant_sql, iso_of, parse_interval, parse_period,
    period_of, time_floor_col, utc_datetime,
)
from apache_druid_spark.operators.aggregations import (
    compile_aggregations, synthesize_quantile_postaggs)
from apache_druid_spark.operators.dimensions import compile_dimension_spec
from apache_druid_spark.operators.expressions import compile_expression
from apache_druid_spark.operators.filters import compile_filter, interval_predicate
from apache_druid_spark.operators.having import compile_having
from apache_druid_spark.operators.limitspec import apply_limit_spec
from apache_druid_spark.operators.postaggs import apply_post_aggregations
from apache_druid_spark.operators.util import fcol, ident
from apache_druid_spark.plans.timeout import persist

# the row time as SQL text, the input of every bucket
_TIME_SQL = ident(TIME_COLUMN)
_DRUID_TYPES = {"STRING": "string", "LONG": "long", "DOUBLE": "double",
                "FLOAT": "float"}


# ---------------------------------------------------------------------------
# Datasource resolution (DataSource.java:33-39 — seven kinds)
# ---------------------------------------------------------------------------

def resolve_datasource(spec, registry: DatasourceRegistry) -> DataFrame:
    if isinstance(spec, str):
        return registry.table(spec)
    t = spec.get("type", "table")
    if t == "table":
        return registry.table(spec["name"])
    if t == "lookup":
        return registry.lookup_df(spec["lookup"])
    if t == "union":
        dfs = [resolve_datasource(d, registry) for d in spec["dataSources"]]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    if t == "query":
        # inner queries do NOT finalize sketch aggregators — the outer
        # query re-aggregates their STATE, exactly like Druid's
        # broker-side subquery handling (GroupByQueryQueryToolChest
        # materializes non-finalized ResultRows;
        # testSubqueryWithHyperUniques re-merges quality_uniques)
        return compile_query(spec["query"], registry, finalize=False)
    if t == "inline":
        names = spec["columnNames"]
        types = spec.get("columnTypes") or ["STRING"] * len(names)
        schema = T.StructType([
            T.StructField(n, _spark_type(ty)) for n, ty in zip(names, types)
        ])
        return registry.spark.createDataFrame(spec.get("rows", []), schema)
    if t == "globalTable":
        return F.broadcast(registry.table(spec["name"]))
    if t == "join":
        return _join_datasource(spec, registry)
    raise ValueError(f"unknown datasource type: {t!r}")


def _spark_type(druid_type: str) -> T.DataType:
    dt = druid_type.upper()
    if dt.startswith("ARRAY<") or dt.endswith("_ARRAY"):
        inner = dt.replace("ARRAY<", "").replace(">", "").replace("_ARRAY", "")
        return T.ArrayType(_spark_type(inner or "STRING"))
    return {
        "STRING": T.StringType(), "LONG": T.LongType(),
        "DOUBLE": T.DoubleType(), "FLOAT": T.FloatType(),
    }.get(dt, T.StringType())


def _join_datasource(spec: dict, registry: DatasourceRegistry) -> DataFrame:
    """JoinDataSource (processing/.../query/JoinDataSource.java): left-deep
    join with a prefixed, broadcast-able right side. Druid only supports
    broadcast hash joins (sql/.../rule/DruidJoinRule.java:61); we
    broadcast lookups/inline/small sides and let AQE pick otherwise —
    a strict superset (shuffle joins work when the right side is big).
    """
    left = resolve_datasource(spec["left"], registry)
    right = resolve_datasource(spec["right"], registry)
    # the internal segment-partition id must not leak through join
    # prefixes (the top-level path strips it in _base_frame)
    if "__segment" in left.columns:
        left = left.drop("__segment")
    if "__segment" in right.columns:
        right = right.drop("__segment")
    prefix = spec.get("rightPrefix", "j0.")
    for c in right.columns:
        right = right.withColumnRenamed(c, prefix + c)
    rt = spec["right"] if isinstance(spec["right"], dict) else {}
    if isinstance(spec["right"], str) or rt.get("type") in (
            "lookup", "inline", "globalTable"):
        right = F.broadcast(right)
    cond = _join_condition(spec["condition"], left, right, prefix)
    join_type = spec.get("joinType", "INNER").lower()
    return left.join(right, cond, join_type)


def _join_condition(expr_text: str, left: DataFrame, right: DataFrame,
                    prefix: str) -> Column:
    """Druid join conditions are ANDs of equalities `leftExpr == "j0.col"`
    (sql/.../rule/DruidJoinRule.java:224-240). Compile the expression
    against the union of both schemas; prefixed identifiers resolve to
    the renamed right side."""
    return compile_expression(expr_text).cast("boolean")


# ---------------------------------------------------------------------------
# Shared plan fragments
# ---------------------------------------------------------------------------

def _base_frame(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """datasource -> segment pruning -> intervals filter -> virtual
    columns -> filter.

    Interval predicates go first so Catalyst pushes the ``__time`` range
    into the scan (partition pruning at scale). For published segment
    sets (register_published) the interval additionally becomes a
    predicate on the ``__segment`` partition column — Druid's timeline
    lookup (VersionedIntervalTimeline) as directory-level pruning."""
    df = resolve_datasource(q["dataSource"], registry)
    intervals = _intervals_of(q)
    if intervals and TIME_COLUMN in df.columns:
        # a nested ALL-granularity result has no __time column — the
        # reference's outer interval can't exclude its rows either
        # (testSubqueryWithOuterCardinalityAggregator)
        df = _prune_segments(df, q["dataSource"], intervals, registry)
        df = df.filter(interval_predicate(F.col(TIME_COLUMN), intervals))
    if "__segment" in df.columns:
        df = df.drop("__segment")  # segment id is not query-visible
    df = _materialize_missing_dims(df, q)
    for vc in q.get("virtualColumns", []) or []:
        df = _apply_virtual_column(df, vc, registry)
    flt = q.get("filter")
    if flt is not None:
        df = df.filter(compile_filter(flt, df, registry))
    return df


def _materialize_missing_dims(df: DataFrame, q: dict) -> DataFrame:
    """Druid's schema-evolution semantics: a dimension or filter column
    the segments don't have behaves as an all-null STRING column — a
    topN/groupBy on it yields one null bucket over every matching row,
    and a null-selector filter on it matches everything
    (TopNQueryRunnerTest.java:1856-1960). Spark would instead fail
    analysis, so materialize the missing names as null literals (which
    Catalyst constant-folds — no scan cost)."""
    referenced: set[str] = set()

    def dim_name(d) -> None:
        if isinstance(d, str):
            referenced.add(d)
        elif isinstance(d, dict) and isinstance(d.get("dimension"), str):
            referenced.add(d["dimension"])

    for d in q.get("dimensions", []) or []:
        dim_name(d)
    if q.get("dimension") is not None:
        dim_name(q["dimension"])
    for d in q.get("searchDimensions", []) or []:
        dim_name(d)
    for c in q.get("columns", []) or []:  # scan projection
        if isinstance(c, str):
            referenced.add(c)

    def walk_filter(f) -> None:
        if not isinstance(f, dict):
            return
        dim_name(f)
        for d in f.get("dimensions", []) or []:  # columnComparison
            dim_name(d)
        for key in ("fields", "filters"):
            for sub in f.get(key) or []:
                walk_filter(sub)
        if isinstance(f.get("field"), dict):
            walk_filter(f["field"])

    walk_filter(q.get("filter"))

    def walk_agg(a) -> None:
        if not isinstance(a, dict):
            return
        if isinstance(a.get("fieldName"), str):
            referenced.add(a["fieldName"])
        if isinstance(a.get("expression"), str):
            # an expression aggregator over a column the segments don't
            # have behaves as all-null too (SchemaEvolutionTest:
            # longSum(expression 'c1 * 1') over the c1-less index4)
            from apache_druid_spark.operators.expressions import (
                expression_identifiers,
            )
            referenced.update(expression_identifiers(a["expression"]))
        for d in a.get("fields", []) or []:  # cardinality-style
            dim_name(d)  # plain string or DimensionSpec dict
        walk_agg(a.get("aggregator"))  # filtered wrapper
        walk_filter(a.get("filter"))

    for a in q.get("aggregations", []) or []:
        walk_agg(a)
    vc_names = {vc.get("name") for vc in q.get("virtualColumns", []) or []}
    for name in sorted(referenced):
        if ("." not in name and name != TIME_COLUMN
                and name not in vc_names and name not in df.columns):
            df = df.withColumn(name, F.lit(None).cast("string"))
    return df


def _segment_id_ranges(intervals, gran: str) -> list | None:
    """Query intervals -> inclusive (first, last) segment-id ranges.
    Segment ids are ``yyyy-MM-dd'T'HH`` renderings of the UTC
    segment-granularity floor (write_segments), so string order is
    chronological. None when an interval does not parse or the
    granularity is not named: the caller skips pruning, staying
    correct."""
    try:
        return [(iso_of(floor_ms(lo, gran))[:13],
                 iso_of(floor_ms(hi - 1, gran))[:13])
                for lo, hi in map(parse_interval, intervals)]
    except ValueError:
        return None


def _prune_segments(df: DataFrame, datasource, intervals: list[str],
                    registry: DatasourceRegistry) -> DataFrame:
    """Add a ``__segment`` range predicate derived from the query
    intervals; the predicate lands on the partition column and prunes
    directories before any file is listed or opened."""
    if not isinstance(datasource, str) or "__segment" not in df.columns:
        return df
    info = registry.segment_info(datasource)
    ranges = info and _segment_id_ranges(intervals, info["granularity"])
    if not ranges:
        return df
    seg = F.col("__segment")
    out = None
    for lo, hi in ranges:
        p = (seg >= lo) & (seg <= hi)
        out = p if out is None else out | p
    return df.filter(out)


def _intervals_of(q: dict) -> list[str]:
    iv = q.get("intervals")
    if iv is None:
        return []
    if isinstance(iv, dict):  # {"type":"intervals","intervals":[...]}
        iv = iv.get("intervals", [])
    return list(iv)


def _apply_virtual_column(df: DataFrame, vc: dict, registry) -> DataFrame:
    t = vc.get("type", "expression")
    if t == "expression":
        col = compile_expression(vc["expression"], registry)
        try:
            df.select(col)  # analysis probe
        except Exception:
            mv = _mv_auto_transform(df, vc, registry)
            if mv is None:
                raise
            return df.withColumn(vc["name"], mv)
        out = vc.get("outputType")
        if out and out.upper() in _DRUID_TYPES:
            target = _DRUID_TYPES[out.upper()]
            from pyspark.sql import types as _T
            dt = df.select(col.alias("__vc_t")).schema[0].dataType
            if isinstance(dt, _T.ArrayType):
                # an MV-valued expression (map/cartesian_map over MV
                # inputs) keeps its multi-value shape — the declared
                # outputType casts EACH ELEMENT, it does not stringify
                # the array (MultiValuedDimensionTest
                # testGroupByExpression groups the exploded elements)
                col = F.transform(col, lambda e: e.cast(target))
            elif target == "long" and isinstance(
                    dt, (_T.TimestampType, _T.TimestampNTZType)):
                # Druid time values ARE epoch-millis longs, so a
                # LONG-typed virtual column over a timestamp
                # expression (timestamp_ceil etc.) yields millis;
                # Spark's timestamp->long cast would yield seconds
                col = F.unix_millis(col)
            else:
                col = col.cast(target)
        return df.withColumn(vc["name"], col)
    if t == "mv-filtered" or t == "listFiltered":
        # ListFilteredVirtualColumn (processing/.../segment/virtual/)
        delegate = vc["delegate"]
        dim = delegate if isinstance(delegate, str) else delegate["dimension"]
        vals = F.array(*[F.lit(v) for v in vc.get("values", [])])
        allow = vc.get("isAllowList", True)
        from pyspark.sql import types as _T
        is_arr = (dim in df.columns
                  and isinstance(df.schema[dim].dataType, _T.ArrayType))
        if is_arr:
            if allow:
                col = F.filter(F.col(dim), lambda e: F.array_contains(vals, e))
            else:
                col = F.filter(F.col(dim), lambda e: ~F.array_contains(vals, e))
        else:
            # scalar delegate (BaseFilterTest.java:131 builds
            # ListFilteredVirtualColumn over single-value dim0): keep
            # the value when it passes the list test, else no value.
            # Null-safe so a null input survives a deny list.
            c = fcol(dim)
            test = F.coalesce(F.array_contains(vals, c.cast("string")),
                              F.lit(False))
            col = F.when(test if allow else ~test, c)
        return df.withColumn(vc["name"], col)
    raise ValueError(f"unknown virtual column type: {t!r}")


def _mv_auto_transform(df: DataFrame, vc: dict, registry):
    """Druid's 'auto transform': a SCALAR expression over a MULTI-VALUE
    column maps per element, yielding a multi-value virtual column
    (MultiValuedDimensionTest.testTopNExpressionAutoTransform:
    concat(tags, 'foo') applies to each tag). Returns the array Column,
    or None when the expression doesn't reference exactly one MV
    column (the whole-row analysis error then surfaces)."""
    from apache_druid_spark.operators.expressions import (
        expression_identifiers, expression_sql,
    )

    arrays = [n for n in expression_identifiers(vc["expression"])
              if n in df.columns
              and isinstance(df.schema[n].dataType, T.ArrayType)]
    if len(arrays) != 1:
        return None
    name, arr = arrays[0], ident(arrays[0])
    target = _DRUID_TYPES.get((vc.get("outputType") or "STRING").upper(),
                              "string")

    def per(e: str) -> str:
        sql = expression_sql(vc["expression"], registry, env={name: e})
        return f"CAST({sql} AS {target})"

    # a null/empty multi-value row behaves as the single null value
    return F.expr(f"CASE WHEN {arr} IS NULL OR size({arr}) = 0 "
                  f"THEN array({per('CAST(NULL AS STRING)')}) "
                  f"ELSE transform({arr}, __e -> {per('__e')}) END")


def _granularity_bucket(q: dict) -> tuple[str, object] | None:
    gran = q.get("granularity", "all")
    if isinstance(gran, str) and gran.lower() == "all":
        return None
    return (TIME_COLUMN, gran)


def _explode_multivalue_dims(df: DataFrame, dim_cols: list[tuple[str, Column]],
                             drop_empty: bool = False,
                             keep_arrays: set | None = None
                             ) -> tuple[DataFrame, list[str]]:
    """Druid groupBy on a multi-value dimension explodes one row per
    element (processing/.../segment/vector/MultiValueDimensionVectorSelector.java
    semantics). Materialize dim columns, then explode_outer each that is
    an ArrayType.

    ``drop_empty`` (topN): a row whose value set is EMPTY contributes
    to no bucket — TopNQueryEngine iterates per-row dimension values,
    so zero values means zero contributions (a filtered dimension spec
    that rejects the row's only value drops the row,
    testFullOnTopNDecorationOnNumeric). A NULL cell still explodes to
    the null bucket in both engines."""
    out_names = []
    for name, col in dim_cols:
        df = df.withColumn(name, col)
        out_names.append(name)
    for name in out_names:
        if keep_arrays and name in keep_arrays:
            # ARRAY-typed dimension spec: the whole array is the
            # grouping key; a scalar source wraps into a one-element
            # array (testSingleValueDimensionAsStringArrayWithout
            # Expression groups placement as ["preferred"])
            if not isinstance(df.schema[name].dataType, T.ArrayType):
                df = df.withColumn(name, F.array(F.col(name)))
            continue
        if isinstance(df.schema[name].dataType, T.ArrayType):
            if drop_empty:
                df = df.filter(F.col(name).isNull()
                               | (F.size(name) > 0))
            df = df.withColumn(name, F.explode_outer(name))
    return df, out_names


# ---------------------------------------------------------------------------
# Query type compilers
# ---------------------------------------------------------------------------

def compile_timeseries(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """timeseries (processing/.../timeseries/TimeseriesQueryEngine.java):
    bucket __time by granularity, aggregate per bucket.

    Zero-filling of empty buckets (the toolchest's bucket iteration in
    TimeseriesQueryQueryToolChest) runs when the context sets
    ``skipEmptyBuckets: false`` explicitly: bucket sequence generated
    over the query intervals, left-joined, count aggregators
    coalesced to 0 (other aggregators stay null — SQL-compatible null
    mode, SURVEY §1.2). Divergence: the reference default is
    fill-empty-buckets; ours is skip, because unbounded interval specs
    (ALL eternity) would explode the generated sequence."""
    df = _base_frame(q, registry)
    # legacy hyperUnique (real HyperLogLogCollector wire state) runs
    # through the Arrow fold and joins back per bucket — the
    # dashboards' timeseries-of-unique-users shape (r16)
    q, legacy_specs = _split_legacy_specs(q)
    if legacy_specs:
        df = _persist_legacy_base(q, df, [], legacy_specs)
    _extra, _posts = synthesize_quantile_postaggs(
        q.get("aggregations", []), q.get("postAggregations"), registry, df)
    if _extra:
        q = {**q, "postAggregations": _posts}
    aggs = compile_aggregations(q.get("aggregations", []), df, registry)
    aggs += _extra
    no_aggs = not aggs
    if no_aggs:
        # aggregator-less timeseries returns bare bucket timestamps
        # (testTimeseriesNoAggregators: empty value maps)
        aggs = [F.count(F.lit(1)).alias("__ts_rows")]
    bucket = _granularity_bucket(q)
    if bucket is None:
        out = df.agg(*aggs)
        out = out.select(F.lit(None).cast("timestamp").alias(TIME_COLUMN), "*")
    else:
        out = (df.groupBy(time_floor_col(_TIME_SQL, bucket[1])
                          .alias(TIME_COLUMN))
                 .agg(*aggs))
        if q.get("context", {}).get("skipEmptyBuckets", True) is False:
            out = _zero_fill(out, q, registry, bucket[1])
    if no_aggs:
        out = out.drop("__ts_rows")
    if legacy_specs:
        keys = ([] if bucket is None else
                [(TIME_COLUMN, time_floor_col(_TIME_SQL, bucket[1]))])
        out = _attach_legacy_folds(df, out, keys, legacy_specs,
                                   finalize=True, zero_fill=True)
    ts_field = q.get("context", {}).get("timestampResultField")
    if ts_field:
        # CTX_TIMESTAMP_RESULT_FIELD (TimeseriesQuery): expose the
        # bucket timestamp as an epoch-millis LONG column so post-aggs
        # can reference it (testTimeseriesWithPostAggregatorReferencing
        # TimestampResultField). Signature order matches the toolchest
        # (TimeseriesQueryQueryToolChest.java:419: __time, then the
        # timestamp result field, then aggregators —
        # testTimeseriesWithTimestampResultFieldContextForArrayResponse
        # asserts columnNames positions)
        rest = [c for c in out.columns if c != TIME_COLUMN]
        out = out.withColumn(
            ts_field, F.unix_millis(F.col(TIME_COLUMN))
        ).select(TIME_COLUMN, ts_field,
                 *[c for c in rest if c != ts_field])
    out = apply_post_aggregations(out, q.get("postAggregations", []), registry)
    desc = bool(q.get("descending", False))
    out = out.orderBy(F.col(TIME_COLUMN).desc() if desc
                      else F.col(TIME_COLUMN).asc())
    if q.get("context", {}).get("grandTotal"):
        totals = df.agg(*aggs).select(
            F.lit(None).cast("timestamp").alias(TIME_COLUMN), "*")
        if no_aggs:
            totals = totals.drop("__ts_rows")
        if legacy_specs:
            totals = _attach_legacy_folds(df, totals, [], legacy_specs,
                                          finalize=True)
        totals = apply_post_aggregations(
            totals, q.get("postAggregations", []), registry)
        out = out.unionByName(totals)
    limit = q.get("limit")
    if limit:
        out = out.limit(int(limit))
    return out


def _granularity_interval_sql(gran) -> str:
    """Granularity -> Spark INTERVAL literal for bucket-sequence steps."""
    months, millis = parse_period(period_of(gran))
    if months:
        return f"{months} MONTH"
    return f"{millis} MILLISECOND"


def _stat_as_naive_utc(v):
    """Parquet footer min/max -> naive-UTC datetime mirroring the
    registry's __time conversion, or None if the stat type can't be
    mapped exactly. int = raw TIMESTAMP(NANOS) read as long under
    nanosAsLong; registry converts via ``ts div 1000`` micros — a
    monotonic map, so min/max convert pointwise."""
    from datetime import datetime, timedelta, timezone as _tz

    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_tz.utc).replace(tzinfo=None)
        return v
    if isinstance(v, int) and v >= 0:
        return datetime(1970, 1, 1) + timedelta(microseconds=v // 1000)
    return None


def _footer_extent(df: DataFrame, raw_col: str, intervals: tuple):
    """Row-exact (min, max) ``__time`` from parquet footer statistics —
    the broker's timeline lookup as a pure METADATA pass, O(files), no
    executor job (r9 verdict: the first zero-filled timeseries per
    datasource paid a full-column scan at plan time).

    Exactness contract: a row group contributes iff its [min, max]
    lies entirely inside one query interval; row groups entirely
    outside every interval are skipped. Any row group STRADDLING an
    interval boundary makes footer stats inexact for the
    within-interval min/max, so the whole answer is abandoned
    (return None) and the caller falls back to the narrow pruned scan
    — semantics stay bit-identical to the scan in every case."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-backed plan
        return None
    if not files:
        return None
    import pyarrow.parquet as pq

    try:
        ivs = [tuple(map(utc_datetime, parse_interval(iv)))
               for iv in intervals]
    except ValueError:
        return None
    lo = hi = None
    for uri in files:
        path = local_path(uri)
        if path is None:
            return None  # remote store: listing footers not free here
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:  # noqa: BLE001 — not parquet / unreadable
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = None
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema == raw_col:
                    st = c.statistics
                    break
            if st is None:
                return None
            if (st.has_null_count
                    and st.null_count == rg.num_rows):
                # all-null group (typically written WITHOUT min/max
                # stats): contributes nothing — skip, don't abandon
                # the metadata answer (ADVICE r10).
                continue
            if not st.has_min_max:
                return None
            mn = _stat_as_naive_utc(st.min)
            mx = _stat_as_naive_utc(st.max)
            if mn is None or mx is None:
                return None
            if ivs:
                if all(mx < s or mn >= e for s, e in ivs):
                    continue  # disjoint from every interval
                if not any(s <= mn and mx < e for s, e in ivs):
                    return None  # straddles a boundary: need the scan
            if lo is None or mn < lo:
                lo = mn
            if hi is None or mx > hi:
                hi = mx
    # Return tz-AWARE UTC instants: naive datetimes cross the Python↔
    # JVM boundary (F.lit in _zero_fill) in the driver's LOCAL tz,
    # while the scan fallback's collected timestamps round-trip
    # local-naive — on a non-UTC driver the two paths would embed
    # different instants (ADVICE r10). TimestampType.toInternal
    # handles tz-aware values exactly via utctimetuple, no DST
    # ambiguity.
    from datetime import timezone as _tz

    if lo is not None:
        lo = lo.replace(tzinfo=_tz.utc)
    if hi is not None:
        hi = hi.replace(tzinfo=_tz.utc)
    return (lo, hi)


def _list_segment_ids(spark, path: str) -> list[str] | None:
    """Segment ids of a published datasource from ONE directory
    listing (Hadoop FileSystem.listStatus — works for file:, s3a:,
    gs:, abfss:), without opening any data file. Returns None when the
    path is unlistable; never raises."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out = []
        for st in fs.listStatus(jpath):
            nm = st.getPath().getName()
            if st.isDirectory() and nm.startswith("__segment="):
                out.append(nm.split("=", 1)[1])
        return sorted(out)
    except Exception:  # noqa: BLE001 — listing is best-effort
        return None


def _edge_segments_frame(df: DataFrame, name: str, intervals: list,
                         registry) -> DataFrame | None:
    """Narrow a published datasource to its FIRST and LAST interval-
    surviving segments — sufficient for the (min, max) __time extent,
    since segment ids are chronological granularity floors. Druid's
    TimeBoundaryQueryRunnerFactory likewise consults only the timeline
    edges. Returns None when the datasource is not a published
    segment set (caller falls back to the full pruned scan)."""
    info = registry.segment_info(name) if isinstance(name, str) else None
    if not info or "__segment" not in df.columns:
        return None
    segs = _list_segment_ids(registry.spark, info["path"])
    if not segs:
        return None
    ranges = intervals and _segment_id_ranges(intervals, info["granularity"])
    if ranges:
        # keep only segments the interval bounds allow
        segs = [sg for sg in segs
                if any(lo <= sg <= hi for lo, hi in ranges)]
    if not segs:
        return None
    edges = sorted({segs[0], segs[-1]})
    return df.filter(F.col("__segment").isin(edges))


def _data_extent(q: dict, registry) -> tuple:
    """(min, max) raw ``__time`` of the interval-pruned datasource,
    BEFORE query filters are applied — the reference's toolchest
    iterates buckets over query-interval ∩ segment extent regardless
    of the query filter (TimeseriesQueryRunnerTest.
    testTimeseriesWithFilterOnNonExistentDimension zero-fills buckets
    even when the filter matches no rows).

    Answered from parquet footer statistics when the datasource was
    registered through an unfiltered file read (registry.
    footer_time_cols) and no row group straddles an interval boundary
    (_footer_extent) — a driver-side metadata pass, no Spark job.
    Otherwise a narrow column-pruned min/max scan — the broker's
    timeline lookup as a metadata-sized job. Cached per (datasource,
    registry epoch, intervals); stale epochs are evicted on insert
    (ADVICE r9: streaming/INSERT re-registration loops otherwise grow
    the dict unboundedly). Keeping this OUT of the result plan is what
    keeps the zero-filled timeseries at exactly one FileScan of the
    fact table (r8 regression: referencing the aggregate twice
    doubled the scan)."""
    intervals = tuple(_intervals_of(q))
    name = q.get("dataSource")
    key = None
    if isinstance(name, str):
        key = (name, registry.epoch, intervals)
        if key in registry.extent_cache:
            return registry.extent_cache[key]
    df = resolve_datasource(q["dataSource"], registry)
    ext = None
    if isinstance(name, str) and name in registry.footer_time_cols:
        ext = _footer_extent(df, registry.footer_time_cols[name],
                             intervals)
    if ext is None:
        scan = df
        if isinstance(name, str):
            # published segment sets: the extent lives in the FIRST
            # and LAST segment directories, so scan only those two —
            # at object-store scale this is one directory LIST plus
            # two segments' files instead of the whole datasource
            # (the footer path returns None for remote URIs; this is
            # the registry-backed answer SCALE.md round-11 called for)
            narrowed = _edge_segments_frame(df, name, list(intervals),
                                            registry)
            if narrowed is not None:
                scan = narrowed
        if intervals:
            scan = _prune_segments(scan, q["dataSource"],
                                   list(intervals), registry)
            scan = scan.filter(interval_predicate(F.col(TIME_COLUMN),
                                                  list(intervals)))
        row = scan.agg(F.min(TIME_COLUMN), F.max(TIME_COLUMN)).head()
        ext = (row[0], row[1])
    if key is not None:
        for k in [k for k in registry.extent_cache
                  if k[1] != registry.epoch]:
            del registry.extent_cache[k]
        registry.extent_cache[key] = ext
    return ext


def _zero_fill(out: DataFrame, q: dict, registry, gran) -> DataFrame:
    """Left-join the aggregate onto the bucket sequence of the query
    intervals CLIPPED to the data's extent — the reference's toolchest
    iterates buckets over the intersection of the query interval and
    the existing segments, so a 2011-04-14/2011-05-01 query over data
    ending 2011-04-15 fills 25 hour buckets, not 408
    (TimeseriesQueryRunnerTest.testTimeseriesQueryZeroFilling). The
    clip also bounds the sequence for eternity interval specs. Count
    aggregators fill with 0; others stay NULL (SQL-compatible).

    The extent comes from _data_extent (pre-filter, driver-cached
    literals), so the bucket sequence is built over spark.range(1) —
    zero extra FileScans in the result plan."""
    intervals = _intervals_of(q)
    if not intervals:
        return out
    lo, hi = _data_extent(q, registry)
    if lo is None:
        return out  # no segments intersect the interval -> no buckets
    step = _granularity_interval_sql(gran)
    one = out.sparkSession.range(1)
    parts = []
    for start_ms, end_ms in map(parse_interval, intervals):
        # lo converts as F.lit(lo) would (TimestampType.toInternal)
        start = time_floor_col(
            f"greatest({instant_sql(start_ms)}, timestamp_micros("
            f"{T.TimestampType().toInternal(lo)}))", gran)
        stop = F.least(instant_lit(end_ms - 1), F.lit(hi))
        seq = F.when(
            stop >= start,
            F.sequence(start, stop, F.expr(f"INTERVAL {step}")))
        parts.append(one.select(F.explode(seq).alias(TIME_COLUMN)))
    buckets = parts[0]
    for p in parts[1:]:
        buckets = buckets.unionByName(p)
    # No forced broadcast: the aggregate has the same cardinality as the
    # generated bucket sequence, so F.broadcast(out) would blow the
    # broadcast ceiling at fine granularities. The preserved (bucket)
    # side of a left-outer can't be the BHJ build side in Spark, so let
    # AQE pick — broadcast of `out` when it's genuinely small, shuffle
    # join (tiny bucket side + unavoidable aggregate shuffle) otherwise.
    filled = buckets.join(out, TIME_COLUMN, "left")
    count_names = [a.get("name", "count")
                   for a in q.get("aggregations", []) or []
                   if a.get("type") == "count"]
    for n in count_names:
        filled = filled.withColumn(n, F.coalesce(F.col(n), F.lit(0)))
    # empty-bucket hyperUnique/cardinality estimate is 0.0 (an empty
    # HyperLogLogCollector), not NULL — testTimeseriesWithFilterOn
    # NonExistentDimension pins uniques=0.0 on zero-filled buckets
    sketch_names = [a.get("name")
                    for a in q.get("aggregations", []) or []
                    if a.get("type") in ("hyperUnique", "cardinality")]
    for n in sketch_names:
        filled = filled.withColumn(n, F.coalesce(F.col(n), F.lit(0.0)))
    return filled


def compile_topn(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """topN (processing/.../topn/TopNQueryEngine.java:140-161): group one
    dimension, order by metric, keep K. EXACT here — Spark's
    TakeOrderedAndProject does per-partition heaps + driver merge, which
    is Druid's per-segment top-max(1000,K) + broker merge without the
    approximation."""
    df = _base_frame(q, registry)
    dim_name, dim_col = compile_dimension_spec(q["dimension"], registry, df)
    df, dims = _explode_multivalue_dims(df, [(dim_name, dim_col)],
                                        drop_empty=True)
    # legacy hyperUnique: Arrow fold joined back per (bucket, dim) —
    # BEFORE ordering, so "top K dims by unique users" ranks on the
    # folded estimate (r16)
    q, legacy_specs = _split_legacy_specs(q)
    if legacy_specs:
        df = _persist_legacy_base(q, df, [dim_name], legacy_specs)
    _extra, _posts = synthesize_quantile_postaggs(
        q.get("aggregations", []), q.get("postAggregations"), registry, df)
    if _extra:
        q = {**q, "postAggregations": _posts}
    aggs = compile_aggregations(q.get("aggregations", []), df, registry)
    aggs += _extra
    if not aggs:
        # aggregator-less topN (TopNLexicographicNoAggregators /
        # testSortOnDoubleAsLong): distinct dimension values in
        # comparator order. The hidden count never reaches the output.
        aggs = [F.count(F.lit(1)).alias("__topn_rows")]
    threshold = int(q.get("threshold", 1000))

    metric = q.get("metric")
    bucket = _granularity_bucket(q)
    group_cols = [fcol(dim_name)]
    if bucket is not None:
        # bucket as a groupBy EXPRESSION, not a column overwrite: the
        # aggregators must see the RAW row __time (first/last
        # tie-breaking and longSum(__time) read it — flooring first
        # fed them the bucket, a real divergence)
        group_cols = [time_floor_col(_TIME_SQL, bucket[1]).alias(TIME_COLUMN)
                      ] + group_cols

    out = df.groupBy(*group_cols).agg(*aggs)
    if "__topn_rows" in out.columns:
        out = out.drop("__topn_rows")
    if legacy_specs:
        keys = [(dim_name, fcol(dim_name))]
        if bucket is not None:
            keys = [(TIME_COLUMN, time_floor_col(_TIME_SQL, bucket[1]))
                    ] + keys
        out = _attach_legacy_folds(df, out, keys, legacy_specs,
                                   finalize=True)
    out = apply_post_aggregations(out, q.get("postAggregations", []), registry)

    stop = _topn_previous_stop(metric, dim_name)
    if stop is not None:
        out = out.filter(stop)
    order = _topn_order(metric, dim_name)
    if bucket is None:
        return out.orderBy(*order).limit(threshold)
    w = Window.partitionBy(TIME_COLUMN).orderBy(*order)
    return (out.withColumn("__rank", F.row_number().over(w))
               .filter(F.col("__rank") <= threshold)
               .drop("__rank")
               .orderBy(TIME_COLUMN, *order))


def _topn_previous_stop(metric, dim_name: str,
                        invert: bool = False) -> Column | None:
    """DimensionTopNMetricSpec.previousStop: a paging cursor — only
    dimension values strictly AFTER the stop in comparator order
    (TopNQueryRunnerTest testTopNLexicographicWithPreviousStop /
    testTopNInvertedLexicographicWithPreviousStop)."""
    from apache_druid_spark.operators.limitspec import _sort_key

    if not isinstance(metric, dict):
        return None
    t = metric.get("type", "numeric")
    if t == "inverted":
        return _topn_previous_stop(metric["metric"], dim_name,
                                   invert=not invert)
    if t not in ("dimension", "alphaNumeric"):
        return None
    stop = metric.get("previousStop")
    if not stop:
        return None
    ordering = (metric.get("ordering", "lexicographic")
                if t == "dimension" else "alphanumeric")
    key = _sort_key(F.col(dim_name), ordering)
    stop_key = _sort_key(F.lit(stop), ordering)
    return key < stop_key if invert else key > stop_key


def _topn_order(metric, dim_name: str, invert: bool = False) -> list[Column]:
    """TopN metric specs (processing/.../topn/{Numeric,Dimension,
    AlphaNumeric,Inverted}TopNMetricSpec.java). Ties break on the
    dimension for determinism."""
    from apache_druid_spark.operators.limitspec import _sort_key

    def direction(c: Column, desc: bool) -> Column:
        return c.desc() if (desc != invert) else c.asc()

    if isinstance(metric, str):
        return [direction(F.col(metric), True), F.col(dim_name).asc()]
    t = metric.get("type", "numeric")
    if t == "numeric":
        return [direction(F.col(metric["metric"]), True), F.col(dim_name).asc()]
    if t == "inverted":
        return _topn_order(metric["metric"], dim_name, invert=not invert)
    if t == "dimension":
        key = _sort_key(F.col(dim_name), metric.get("ordering", "lexicographic"))
        return [direction(key, False)]
    if t == "alphaNumeric":
        return [direction(_sort_key(F.col(dim_name), "alphanumeric"), False)]
    raise ValueError(f"unknown topN metric spec: {t!r}")


def _verify_groupby_output_names(q: dict) -> None:
    """GroupByQuery's build-time output-name validation
    (processing/.../groupby/GroupByQuery.java verifyOutputNames):
    duplicate output names across dimensions/aggregators/post-
    aggregators raise "[name] already defined"
    (GroupByQueryRunnerTest.testGroupByWithOutputNameCollisions), and
    '__time' is reserved
    (testGroupByTimeExtractionNamedUnderUnderTime,
    testGroupByWithUnderUnderTimeAsDimensionNameWithHavingAndLimit)."""
    names = []
    for d in q.get("dimensions", []) or []:
        if isinstance(d, str):
            names.append(d)
        elif isinstance(d, dict):
            dd = d.get("delegate")
            base = (dd if isinstance(dd, str) else
                    (dd or d).get("outputName") or
                    (dd or d).get("dimension"))
            names.append(d.get("outputName") or base)
    for a in q.get("aggregations", []) or []:
        if isinstance(a, dict) and a.get("name"):
            names.append(a["name"])
    seen: set = set()
    for n in names:
        if n == TIME_COLUMN:
            raise ValueError(
                "'__time' cannot be used as an output name for "
                "dimensions, aggregators, or post-aggregators.")
        if n in seen:
            raise ValueError(f"[{n}] already defined")
        seen.add(n)
    # post-aggregator names join the same namespace: a collision with
    # a dimension, an aggregator, or another post-aggregator raises
    # (Queries.prepareAggregations, processing/.../query/Queries.java:130;
    # testGroupByWithUniquesAndPostAggWithSameName is
    # @Test(expected = IllegalArgumentException.class))
    for p in q.get("postAggregations", []) or []:
        if not isinstance(p, dict):
            continue
        n = p.get("name")
        if n == TIME_COLUMN:
            raise ValueError(
                "'__time' cannot be used as an output name for "
                "dimensions, aggregators, or post-aggregators.")
        if n in seen:
            raise ValueError(f"[{n}] already defined")
        if n is not None:
            seen.add(n)


_IDENT_RE = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _referenced_columns(q: dict, df: DataFrame, group_names,
                        legacy_specs):
    """Conservative OVER-approximation of the df columns a groupBy
    can reference, for narrowing the legacy-path cache: grouping
    keys, ``__time`` (first/last aggregators order by it implicitly),
    and every identifier token appearing anywhere in the agg /
    post-agg / having / legacy specs that names a df column.
    Returns None (skip narrowing) when any column name is not a plain
    identifier — the token scan could miss a quoted exotic name, and
    a dropped needed column must never be possible."""
    cols = set(df.columns)
    if any(not _IDENT_RE.fullmatch(c) for c in cols):
        return None
    tokens: set[str] = set()

    def walk(x):
        if isinstance(x, str):
            tokens.update(_IDENT_RE.findall(x))
        elif isinstance(x, dict):
            for v in x.values():
                walk(v)
        elif isinstance(x, (list, tuple)):
            for v in x:
                walk(v)

    walk(q.get("aggregations"))
    walk(q.get("postAggregations"))
    walk(q.get("having"))
    walk(list(legacy_specs))
    keep = {c for c in group_names if c in cols} | (tokens & cols)
    if TIME_COLUMN in cols:
        keep.add(TIME_COLUMN)
    return [c for c in df.columns if c in keep]


def _split_legacy_specs(q: dict):
    """Pull {"type": "hyperUnique", "legacy": true} aggregators out of
    the spec — they read REAL Druid HyperLogLogCollector wire state
    and run through the Arrow fold (ingest/hllc.py), which cannot
    live inside a Column .agg() list."""
    legacy = [s for s in q.get("aggregations", []) or []
              if isinstance(s, dict) and s.get("type") == "hyperUnique"
              and s.get("legacy")]
    if legacy:
        q = {**q, "aggregations": [s for s in q["aggregations"]
                                   if s not in legacy]}
    return q, legacy


def _persist_legacy_base(q: dict, df: DataFrame, group_names,
                         legacy_specs) -> DataFrame:
    """One scan of the base for the legacy path: the Column
    aggregation AND every Arrow HLLC fold read one persisted input
    instead of re-scanning the source per subtree (the subtrees have
    different agg lists, so exchange reuse can't collapse them).
    MEMORY_AND_DISK keeps the 100 TB shape honest: one scan + local
    re-reads beats N remote scans. The cached projection is NARROWED
    to the columns the query can reference, and the query's scope
    unpersists it when the query ends."""
    needed = _referenced_columns(q, df, group_names, legacy_specs)
    if needed is not None:
        df = df.select(*needed)
    return persist(df)


def _attach_legacy_folds(base_df: DataFrame, out_df: DataFrame,
                         key_exprs, legacy_specs, finalize: bool,
                         zero_fill: bool = False) -> DataFrame:
    """Join each legacy hyperUnique's Arrow fold back onto the
    Column-aggregated rows. ``key_exprs`` is a list of
    (output-name, Column-over-base) pairs — a timeseries/topN bucket
    is a floor EXPRESSION, not a base column. The fold runs over
    SAFE temp key names (``__lk*``) so dotted output names (join
    prefixes like ``j0.col``) never reach a string groupBy, and the
    field is read via fcol (backtick-quoted) for the same reason.
    eqNullSafe per key: Druid returns null-dimension groups, and a
    plain equi-join would silently drop them (r15 advice). LEFT join
    so zero-filled timeseries buckets survive; ``zero_fill``
    coalesces a finalized estimate to 0.0 there. The GLOBAL (no-key)
    fold also left-joins on TRUE: applyInPandas yields ZERO rows on
    empty input, and a crossJoin would annihilate the engine's
    one-row global aggregate — the estimate coalesces to 0.0, the
    value the non-legacy path returns on empty input."""
    from apache_druid_spark.ingest.hllc import hllc_rollup

    for spec in legacy_specs:
        field = spec["fieldName"]
        mode = ("blobs" if isinstance(base_df.schema[field].dataType,
                                      T.BinaryType) else "values")
        names = [n for n, _ in key_exprs]
        safe = [f"__lk{i}" for i in range(len(key_exprs))]
        sel = [c.alias(s) for (_, c), s in zip(key_exprs, safe)] \
            + [fcol(field).alias("__lfield")]
        folded = hllc_rollup(base_df.select(*sel), safe, "__lfield",
                             mode=mode, out_col=spec["name"],
                             finalize=finalize)
        if names:
            cond = None
            for n, s in zip(names, safe):
                c = out_df[n].eqNullSafe(folded[s])
                cond = c if cond is None else (cond & c)
            out_df = out_df.join(folded, cond, "left").drop(*safe)
            if zero_fill and finalize:
                out_df = out_df.withColumn(
                    spec["name"],
                    F.coalesce(fcol(spec["name"]), F.lit(0.0)))
        else:  # global aggregate: one row joins the (<=1 row) fold
            out_df = out_df.join(folded, F.lit(True), "left")
            if finalize:
                out_df = out_df.withColumn(
                    spec["name"],
                    F.coalesce(fcol(spec["name"]), F.lit(0.0)))
    return out_df


def compile_groupby(q: dict, registry: DatasourceRegistry,
                    finalize: bool = True) -> DataFrame:
    """groupBy (processing/.../groupby/epinephelinae/GroupByQueryEngineV2.java;
    subtotals: GroupByQuery.java:117). Multi-value dims explode; the
    two-level historical/broker merge is Spark's partial/final
    HashAggregate; subtotalsSpec compiles to grouping sets."""
    _verify_groupby_output_names(q)
    if (q.get("context") or {}).get("forceLimitPushDown"):
        # GroupByQuery.validateAndGetForceLimitPushDown: the forced
        # two-level pushdown cannot re-filter (having) and cannot sort
        # on values that only exist post-merge (post-aggregators) —
        # GroupByQueryRunnerTest.testRejectForceLimitPushDownWithHaving,
        # testGroupByLimitPushDownPostAggNotSupported
        if q.get("having") is not None:
            raise ValueError(
                "Cannot force limit push down when a having spec is "
                "present.")
        post_names = {p.get("name")
                      for p in q.get("postAggregations", []) or []
                      if isinstance(p, dict)}
        for col in (q.get("limitSpec") or {}).get("columns", []) or []:
            nm = col if isinstance(col, str) else col.get("dimension")
            if nm in post_names:
                raise ValueError(
                    "Limit push down when sorting by a post "
                    "aggregator is not supported.")
    df = _base_frame(q, registry)
    dim_specs = [compile_dimension_spec(d, registry, df)
                 for d in q.get("dimensions", [])]
    # ARRAY-typed dimension specs group on the WHOLE array value (no
    # explode) — GroupByQueryRunnerTest.testMultiValueDimensionAsArray:
    # the mv_to_array virtual column's array is one grouping key. A
    # STORED multi-value column used directly as an array dim raises
    # like the reference (testMultiValueDimensionAsStringArrayWithout
    # Expression: "Not supported for multi-value dimensions" — the MV
    # string column must go through mv_to_array first); a SCALAR
    # column wraps into a one-element array
    # (testSingleValueDimensionAsStringArrayWithoutExpression).
    vc_names = {vc.get("name") for vc in q.get("virtualColumns", []) or []}
    array_out: set = set()
    for d in q.get("dimensions", []) or []:
        if not isinstance(d, dict):
            continue
        ot = str(d.get("outputType") or "").upper()
        if not (ot.endswith("_ARRAY") or ot.startswith("ARRAY")):
            continue
        nm = d.get("outputName") or d.get("dimension")
        src = d.get("dimension")
        ds = q.get("dataSource")
        stored_table = (isinstance(ds, str)
                        or (isinstance(ds, dict)
                            and ds.get("type", "table") == "table"))
        if (stored_table and d.get("type", "default") == "default"
                and src in df.columns and src not in vc_names
                and isinstance(df.schema[src].dataType, T.ArrayType)):
            # only STORED MV string dims are rejected; an inner
            # query's ARRAY-typed output re-groups fine
            # (testNestedGroupByWithLongArrays/StringArray)
            raise ValueError(
                "Not supported for multi-value dimensions: use "
                "mv_to_array to group on the array value")
        array_out.add(nm)
    if (q.get("context") or {}).get(
            "groupByEnableMultiValueUnnesting", True) is False:
        # testMultiValueDimensionNotAllowed: with unnesting disabled a
        # stored MV dimension is an error, not an implicit explode
        for d in q.get("dimensions", []) or []:
            src = d if isinstance(d, str) else d.get("dimension")
            nm = (src if isinstance(d, str)
                  else d.get("outputName") or src)
            if (nm not in array_out and src in df.columns
                    and isinstance(df.schema[src].dataType,
                                   T.ArrayType)):
                raise ValueError(
                    f"Encountered multi-value dimension [{src}] that "
                    "cannot be processed with "
                    "'groupByEnableMultiValueUnnesting' set to false. "
                    "Consider setting "
                    "'groupByEnableMultiValueUnnesting' to true in "
                    "your query context.")
    df, dim_names = _explode_multivalue_dims(df, dim_specs,
                                             keep_arrays=array_out)
    # legacy hyperUnique aggregators ({"type": "hyperUnique",
    # "legacy": true}) read REAL Druid HyperLogLogCollector wire state
    # (or hash raw values with murmur3_128 like the reference's
    # ingest). Their offset-aligned fold runs in Arrow batches
    # (ingest/hllc.py) and cannot live in a Column .agg() list — pull
    # them out here, aggregate the rest normally, and join the folded
    # results back on the grouping keys below.
    q, legacy_specs = _split_legacy_specs(q)
    _extra, _posts = synthesize_quantile_postaggs(
        q.get("aggregations", []), q.get("postAggregations"), registry, df)
    if _extra:
        q = {**q, "postAggregations": _posts}
    aggs = compile_aggregations(q.get("aggregations", []), df, registry,
                                finalize=finalize)
    aggs += _extra
    if not aggs:
        aggs = [F.count(F.lit(1)).alias("__count")]

    bucket = _granularity_bucket(q)
    group_names = list(dim_names)
    if bucket is not None:
        # materialize the bucket under a temp name and rename AFTER
        # aggregating: overwriting __time before the agg fed the
        # aggregators the FLOORED bucket, but the reference's
        # aggregators see the raw row time (first/last tie-breaking,
        # longSum over __time)
        df = df.withColumn(
            "__bucket", time_floor_col(_TIME_SQL, bucket[1]))
        group_names = ["__bucket"] + group_names

    if legacy_specs:
        df = _persist_legacy_base(q, df, group_names, legacy_specs)

    def _join_legacy_folds(out_df, keys):
        return _attach_legacy_folds(
            df, out_df, [(k, fcol(k)) for k in keys], legacy_specs,
            finalize)

    def _per_set_union(sets):
        """One result block per subtotal set (GroupByQuery.java:117):
        per-set groupBy (+ the HLLC fold joined null-safely WITHIN
        the set — a cross-set join would conflate a set's absent
        column with a real NULL value), null-pad absent dims, union
        in spec order. Serves both the legacy path and the
        groupingSets fallback — one loop, not two copies."""
        parts = []
        for s in sets:
            missing = [c for c in group_names if c not in s]
            p = df.groupBy(*[fcol(c) for c in s]).agg(*aggs)
            p = _join_legacy_folds(p, list(s))
            for mcol in missing:
                p = p.withColumn(mcol, F.lit(None))
            parts.append(p.select(*group_names,
                                  *[a for a in p.columns
                                    if a not in group_names]))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    subtotals = q.get("subtotalsSpec")
    if subtotals:
        sets = [[*(["__bucket"] if bucket is not None else []), *s]
                for s in subtotals]
        if legacy_specs:
            out = _per_set_union(sets)
        else:
            try:
                grouped = df.groupingSets(
                    [[fcol(c) for c in s] for s in sets],
                    *[fcol(c) for c in group_names])
                out = grouped.agg(*aggs)
            except Exception:
                # fallback: union of per-set groupBys (null-padded)
                out = _per_set_union(sets)
    else:
        out = df.groupBy(*[fcol(c) for c in group_names]).agg(*aggs)
        out = _join_legacy_folds(out, list(group_names))

    if bucket is not None:
        out = out.withColumnRenamed("__bucket", TIME_COLUMN)
        group_names = [TIME_COLUMN] + group_names[1:]
    if "__count" in out.columns:
        out = out.drop("__count")  # aggregator-less groupBy
        # (testGroupByNoAggregators): distinct dim tuples only
    out = apply_post_aggregations(out, q.get("postAggregations", []), registry)
    having = q.get("having")
    if having is not None:
        out = out.filter(compile_having(having, out, registry))
    # natural row ordering (GroupByQuery.getRowOrdering): time bucket,
    # then dimensions — a limitSpec with ONLY limit/offset pages over
    # this order (testMergeResultsWithLimitAndOffset)
    default_order = ([F.col(TIME_COLUMN).asc()]
                     if bucket is not None else []) + \
        [fcol(c).asc() for c in dim_names]
    default_order = default_order or None
    out = apply_limit_spec(
        out, q.get("limitSpec"), default_order,
        dim_names=list(group_names),
        time_first=(bucket is not None
                    and not q.get("context", {}).get("sortByDimsFirst")))
    if q.get("limitSpec") is None and bucket is not None:
        if q.get("context", {}).get("sortByDimsFirst"):
            # sortByDimsFirst (GroupByQuery.getRowOrdering): dimension
            # order outranks the time bucket
            out = out.orderBy(*[fcol(c) for c in dim_names],
                              TIME_COLUMN)
        else:
            out = out.orderBy(TIME_COLUMN)
    return out


def compile_scan(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """scan (processing/.../query/scan/ScanQuery.java:175-186,
    ScanQueryEngine.java): raw rows with projection/limit/offset and
    __time (or general) ordering."""
    df = _base_frame(q, registry)
    # order/offset/limit BEFORE the projection: the engine's time
    # ordering is independent of the requested columns
    # (ScanQueryEngine sorts the cursor by time whether or not __time
    # is projected), and Catalyst drops the sort column after the
    # final Project anyway
    order = q.get("order", "none")
    order_bys = q.get("orderBy") or q.get("orderBys") or []
    if order_bys:
        exprs = []
        for ob in order_bys:
            c = fcol(ob["columnName"] if "columnName" in ob else ob["dimension"])
            exprs.append(c.desc() if str(ob.get("order", "ascending"))
                         .lower().startswith("desc") else c.asc())
        df = df.orderBy(*exprs)
    elif order and order != "none" and TIME_COLUMN in df.columns:
        # timeless registrations (dimension tables, nested ALL-gran
        # results) have no __time — time-order is identity there, same
        # convention as _base_frame's interval guard
        df = df.orderBy(F.col(TIME_COLUMN).desc()
                        if order == "descending" else F.col(TIME_COLUMN).asc())
    offset = int(q.get("offset", 0) or 0)
    if offset:
        df = df.offset(offset)
    # limit 0 (or absent) means UNLIMITED — ScanQuery.java:218 maps
    # scanRowsLimit == 0 to Long.MAX_VALUE (ScanQueryRunnerTest's
    # per-limit loops include 0 and expect every row back)
    limit = int(q.get("limit") or 0)
    if limit:
        df = df.limit(limit)
    cols = q.get("columns") or []
    if cols:
        # missing-column null semantics already materialized by
        # _materialize_missing_dims (testFullSelectNoDimensionAndMetric)
        df = df.select(*cols)
    return df


def _search_part(p: DataFrame, d: str, match, match_nulls: bool = False
                 ) -> DataFrame:
    # match_nulls: the ALL search spec accepts null values as hits
    # (testSearchWithNullValueInDimension); every predicate spec
    # rejects them (ContainsSearchQuerySpec.accept(null) == false)
    keep = (F.lit(True) if match_nulls
            else F.col("value").isNotNull()) & match(F.col("value"))
    return (p.filter(keep)
             .groupBy("value").agg(F.count(F.lit(1)).alias("count"))
             .select(F.lit(d).alias("dimension"), "value", "count"))


def compile_search(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """search (processing/.../query/search/SearchQuery.java): find
    dimension VALUES matching a predicate across dims. Druid picks
    index-vs-cursor strategies (UseIndexesStrategy.java); here each
    dimension contributes a small distinct-aggregate subplan and the
    results union — Catalyst shares the scan via reuse when possible."""
    df = _base_frame(q, registry)
    dims = q.get("searchDimensions") or [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.StringType,))
        or (isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, T.StringType))
    ]
    # SearchQuery defaults a missing querySpec to AllSearchQuerySpec
    # (SearchQuery.java ctor), which matches EVERY value — including
    # NULLs (testSearchWithNullValueInDimension counts the null hit)
    qspec = q.get("query") or {"type": "all"}
    limit = int(q.get("limit", 1000))

    def match(c: Column) -> Column:
        t = qspec["type"]
        if t == "all":
            return F.lit(True)
        if t in ("contains",) and qspec.get("caseSensitive", False):
            return F.contains(c, F.lit(qspec["value"]))
        if t in ("contains", "insensitive_contains"):
            return F.contains(F.lower(c), F.lit(str(qspec["value"]).lower()))
        if t == "fragment":
            out = F.lit(True)
            cs = qspec.get("caseSensitive", False)
            for fr in qspec["values"]:
                s = c if cs else F.lower(c)
                out = out & F.contains(s, F.lit(fr if cs else fr.lower()))
            return out
        if t == "regex":
            return c.rlike(qspec["pattern"])
        raise ValueError(f"unknown search query type: {t!r}")

    # missing-dim guard against the PRE-materialization schema:
    # _materialize_missing_dims null-fills names referenced anywhere in
    # the query, but a search over a genuinely absent dimension yields
    # NO hits even under the ALL spec (testSearchWithNotExistedDimension
    # — vs. testSearchWithNullValueInDimension, where the column exists
    # and its nulls count)
    real_cols = set(resolve_datasource(q["dataSource"], registry).columns)
    real_cols |= {vc.get("name")
                  for vc in q.get("virtualColumns", []) or []}

    parts = []
    for d in dims:
        # DimensionSpec dicts name typed searches
        # (testSearchOnLongColumn: __time as LONG; testSearchOnFloat
        # Column: the double metric searched as text) and may carry an
        # extractionFn (testSearchWithExtractionFilter1 sweeps the
        # EXTRACTED values)
        out_name, exfn = d, None
        if isinstance(d, dict):
            out_name = d.get("outputName") or d.get("dimension")
            exfn = d.get("extractionFn")
            d = d.get("dimension")
        if d == TIME_COLUMN:
            # Druid time is an epoch-millis long; search stringifies
            # millis (SearchQueryRunnerTest.testSearchOnTime)
            p = df.select(
                F.unix_millis(fcol(d)).cast("string").alias("value"))
            parts.append(_search_part(p, out_name, match,
                                      qspec["type"] == "all"))
            continue
        if d not in df.columns or d not in real_cols:
            # a non-existent search dimension contributes no hits
            # (testSearchNonExistingDimension), it is not an error
            continue
        c = fcol(d)
        if isinstance(df.schema[d].dataType, T.ArrayType):
            p = df.select(F.explode(c).alias("value"))
        else:
            p = df.select(c.cast("string").alias("value"))
        if exfn is not None:
            from apache_druid_spark.operators.dimensions import (
                compile_extraction_fn)
            p = p.select(F.expr(compile_extraction_fn(
                exfn, "value", registry)).alias("value"))
        parts.append(_search_part(p, out_name, match,
                                  qspec["type"] == "all"))
    if not parts:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "dimension string, value string, count long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    sort = (q.get("sort") or {}).get("type", "lexicographic")
    if sort == "strlen":
        out = out.orderBy(F.length("value"), "value", "dimension")
    else:
        out = out.orderBy("value", "dimension")
    return out.limit(limit)


def compile_time_boundary(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """timeBoundary (processing/.../query/timeboundary/TimeBoundaryQuery.java).

    Unfiltered plain-table case: answered from _data_extent — parquet
    footer statistics when available (a driver-side metadata pass, no
    Spark job — the reference's TimeBoundaryQueryRunnerFactory likewise
    short-circuits to per-segment time extents without scanning rows)
    and the per-(datasource, intervals) extent cache either way. The
    result plan is a one-row literal projection."""
    bound = q.get("bound")
    name = q.get("dataSource")
    if (isinstance(name, str) and not q.get("filter")
            and not q.get("virtualColumns")
            and name in registry.footer_time_cols):
        lo, hi = _data_extent(q, registry)

        def _ts(v):
            return (F.lit(v) if v is not None
                    else F.lit(None)).cast("timestamp")

        one = registry.spark.range(1)
        if bound == "minTime":
            return one.select(_ts(lo).alias("minTime"))
        if bound == "maxTime":
            return one.select(_ts(hi).alias("maxTime"))
        return one.select(_ts(lo).alias("minTime"),
                          _ts(hi).alias("maxTime"))
    df = _base_frame(q, registry)
    # no matching rows -> NO result (the reference's merge drops
    # null boundaries: TimeBoundaryQueryRunnerTest
    # testFilteredTimeBoundaryQueryNoMatches expects zero results,
    # testMergeResultsEmptyResults merges to empty) — a null bound
    # means the filtered scan was empty, so the row is filtered out
    if bound == "minTime":
        out = df.agg(F.min(TIME_COLUMN).alias("minTime"))
        return out.where(F.col("minTime").isNotNull())
    if bound == "maxTime":
        out = df.agg(F.max(TIME_COLUMN).alias("maxTime"))
        return out.where(F.col("maxTime").isNotNull())
    out = df.agg(F.min(TIME_COLUMN).alias("minTime"),
                 F.max(TIME_COLUMN).alias("maxTime"))
    return out.where(F.col("minTime").isNotNull())


def compile_datasource_metadata(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """dataSourceMetadata (processing/.../query/datasourcemetadata/)."""
    df = resolve_datasource(q["dataSource"], registry)
    return df.agg(F.max(TIME_COLUMN).alias("maxIngestedEventTime"))


def compile_segment_metadata(q: dict, registry: DatasourceRegistry) -> DataFrame:
    """segmentMetadata (processing/.../query/metadata/metadata/
    SegmentMetadataQuery.java:50-59 — CARDINALITY/MINMAX/SIZE analyses).
    One row per column: type, approximate cardinality, min/max, nulls.
    Single-pass: all analyses aggregate in one job, then unpivot."""
    df = resolve_datasource(q["dataSource"], registry)
    intervals = _intervals_of(q)
    if intervals and TIME_COLUMN in df.columns:
        df = df.filter(interval_predicate(F.col(TIME_COLUMN), intervals))
    aggs, fields = [], []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType,
                                   T.BinaryType)):
            continue
        c = F.col(f.name)
        aggs += [
            # exact: SegmentAnalyzer reports dictionary cardinality,
            # which is exact per segment — count_distinct matches it
            F.count_distinct(c).alias(f"{f.name}__card"),
            F.min(c).cast("string").alias(f"{f.name}__min"),
            F.max(c).cast("string").alias(f"{f.name}__max"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{f.name}__nulls"),
        ]
        fields.append((f.name, f.dataType.simpleString()))
    row = df.agg(*aggs)
    stack_args = []
    for name, typ in fields:
        stack_args += [f"'{name}'", f"'{typ}'", f"`{name}__card`",
                       f"`{name}__min`", f"`{name}__max`", f"`{name}__nulls`"]
    n = len(fields)
    return row.selectExpr(
        f"stack({n}, {', '.join(stack_args)}) as "
        "(column, type, cardinality, minValue, maxValue, nullCount)")


def _compile_moving_average(q, registry):
    from apache_druid_spark.plans.moving_average import compile_moving_average

    return compile_moving_average(q, registry)


_COMPILERS = {
    "timeseries": compile_timeseries,
    "movingAverage": _compile_moving_average,
    "topN": compile_topn,
    "groupBy": compile_groupby,
    "scan": compile_scan,
    "search": compile_search,
    "timeBoundary": compile_time_boundary,
    "dataSourceMetadata": compile_datasource_metadata,
    "segmentMetadata": compile_segment_metadata,
}


def compile_query(q: dict, registry: DatasourceRegistry,
                  finalize: bool = True) -> DataFrame:
    """Dispatch a native JSON query (Query.java:54-63 registry) to its
    compiler. ``select`` is intentionally absent — removed upstream.

    ``finalize=False`` (inner queries of a query datasource): sketch
    aggregators emit mergeable STATE instead of estimates, so an outer
    query can re-aggregate them (AggregatorFactory.getCombiningFactory
    semantics). Only groupBy consumes the flag — it is the only query
    type Druid allows as a subquery datasource."""
    t = q.get("queryType")
    if t == "select":
        raise ValueError("the 'select' query type was removed; use 'scan' "
                         "(processing/.../query/select/SelectQuery.java:41-50)")
    if t not in _COMPILERS:
        raise ValueError(f"unknown queryType: {t!r}")
    pp = q.get("postProcessing")
    if pp:
        specs = pp if isinstance(pp, list) else [pp]
        if len(specs) != 1 or specs[0].get("type") != "timewarp":
            raise ValueError(
                f"unsupported postProcessing: {specs!r} (timewarp only)")
        from apache_druid_spark.plans.timewarp import apply_timewarp
        return apply_timewarp(q, specs[0], registry, compile_query)
    if t == "groupBy" and not finalize:
        return compile_groupby(q, registry, finalize=False)
    return _COMPILERS[t](q, registry)
