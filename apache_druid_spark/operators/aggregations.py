"""Druid aggregator factories -> Spark aggregate expressions.

Reference registry: processing/src/main/java/org/apache/druid/jackson/
AggregatorsModule.java:94-125; factories under processing/.../aggregation/.

Druid's heap/buffer/vector aggregator triple plus combine()/
getCombiningFactory() partial-final split (AggregatorFactory.java) maps
1:1 onto Spark's partial/final HashAggregate, which Catalyst inserts
automatically — so each factory here is just the *final* semantic
expressed with built-in functions. Sketches map to Spark-native
approximations (approx_count_distinct = HLL++, approx_percentile);
exact variants are free because Spark can shuffle (Druid cannot).

first/last: Druid folds (timestamp, value) pairs
(processing/.../aggregation/first/*.java, SerializablePairLongString.java);
Spark's min_by/max_by over ``__time`` is the same fold.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_druid_spark.model.datasource import TIME_COLUMN
from apache_druid_spark.operators.expressions import (
    compile_expression, expression_sql,
)
from apache_druid_spark.operators.filters import compile_filter
from apache_druid_spark.operators.util import fcol, ident

_SUM_TYPES = {"longSum": "long", "doubleSum": "double", "floatSum": "float"}
_MINMAX = {
    "longMin": ("min", "long"), "longMax": ("max", "long"),
    "doubleMin": ("min", "double"), "doubleMax": ("max", "double"),
    "floatMin": ("min", "float"), "floatMax": ("max", "float"),
}
_FIRST_LAST = {
    "longFirst": ("first", "long"), "longLast": ("last", "long"),
    "doubleFirst": ("first", "double"), "doubleLast": ("last", "double"),
    "floatFirst": ("first", "float"), "floatLast": ("last", "float"),
    "stringFirst": ("first", "string"), "stringLast": ("last", "string"),
}
_ANY = {"longAny": "long", "doubleAny": "double", "floatAny": "float",
        "stringAny": "string"}


def _field(spec: dict, registry=None) -> Column:
    """fieldName or inline expression input to an aggregator."""
    if spec.get("fieldName") is not None:
        return fcol(spec["fieldName"])
    if spec.get("expression") is not None:
        return compile_expression(spec["expression"], registry)
    raise ValueError(f"aggregator needs fieldName or expression: {spec}")


def _num_field(spec: dict, registry=None) -> Column:
    """Numeric aggregator input: Druid time IS an epoch-millis long,
    so a numeric aggregator over __time reads millis
    (TimeseriesQueryRunnerTest.testTimeseriesWithTimeColumn's
    longSum("__time") pins the millis sum; Spark's timestamp->long
    cast would yield seconds)."""
    if spec.get("fieldName") == TIME_COLUMN:
        return F.unix_millis(fcol(TIME_COLUMN))
    return _field(spec, registry)


def _cast_numeric(c: Column, typ: str) -> Column:
    """Druid's string-to-number coercion parses through double, so
    longSum over the string '1.0' yields 1 — Spark's direct
    string->long cast would yield null
    (StringColumnAggregationTest.testGroupBy singleLongSum)."""
    if typ == "long":
        return c.cast("double").cast("long")
    return c.cast(typ)


def _scalar_numeric(spec: dict, df, registry, typ: str) -> Column:
    c = _num_field(spec, registry)
    field = spec.get("fieldName")
    if (df is not None and field and field in df.columns
            and isinstance(df.schema[field].dataType, T.StringType)):
        return _cast_numeric(c, typ)
    return c.cast(typ)


def _mv_numeric_elements(spec: dict, df, typ: str):
    """For a numeric aggregator whose input column is MULTI-VALUE:
    the array of non-null element values cast to the aggregator's
    type, else None (scalar input)."""
    field = spec.get("fieldName")
    if (df is None or not field or field not in df.columns
            or not isinstance(df.schema[field].dataType, T.ArrayType)):
        return None
    return F.filter(
        F.transform(fcol(field), lambda x: _cast_numeric(x, typ)),
        lambda e: e.isNotNull())


def _first_last_key(spec: dict, df) -> Column:
    """Ordering key for first/last folds. Druid breaks timestamp TIES
    by segment ROW ORDER (NumericFirstAggregator.java only replaces on
    strictly-earlier timestamps), and segment row order IS the
    (__time, dimensions...) sort order — IncrementalIndex/IndexMerger
    sort rows by time then dimension values, and rollup makes that key
    unique. So the deterministic distributed equivalent is
    min_by/max_by over struct(__time, <row's orderable columns in
    schema order>) — GroupByQueryRunnerTest.testGroupByWithFirstLast
    pins the tie outcomes (a bare min_by on __time was a real
    run-to-run flake under Spark's partial/final merge)."""
    tname = spec.get("timeColumn", TIME_COLUMN)
    time_col = fcol(tname)
    if df is None:
        return time_col
    extras = [F.col(f.name) for f in df.schema.fields
              if f.name != tname
              and not isinstance(f.dataType, (T.MapType, T.BinaryType))]
    if not extras:
        return time_col
    return F.struct(time_col, *extras)


def compile_aggregator(spec: dict, df=None, registry=None,
                       finalize: bool = True) -> Column:
    """One aggregator JSON -> a named aggregate Column.

    ``finalize=False``: sketch aggregators return mergeable BINARY
    state instead of the finalized estimate — the subquery-datasource
    contract (an outer hyperUnique over the column re-merges it;
    GroupByQueryRunnerTest.testSubqueryWithHyperUniques)."""
    t = spec["type"]
    name = spec.get("name", t)

    if t == "count":
        return F.count(F.lit(1)).alias(name)
    if t in _SUM_TYPES:
        typ = _SUM_TYPES[t]
        arr = _mv_numeric_elements(spec, df, typ)
        if arr is not None:
            # numeric agg over a MULTI-VALUE column: every element
            # contributes (StringColumnAggregationTest: doubleSum over
            # [v, null, v] adds 2v per row; null elements skipped)
            per_row = F.when(
                F.size(arr) > 0,
                F.aggregate(arr, F.lit(0).cast(typ), lambda a, x: a + x))
            return F.sum(per_row).alias(name)
        return F.sum(_scalar_numeric(spec, df, registry, typ)).alias(name)
    if t in _MINMAX:
        fn, typ = _MINMAX[t]
        arr = _mv_numeric_elements(spec, df, typ)
        if arr is not None:
            per_row = F.array_min(arr) if fn == "min" else F.array_max(arr)
            return getattr(F, fn)(per_row).alias(name)
        return getattr(F, fn)(
            _scalar_numeric(spec, df, registry, typ)).alias(name)
    if t == "doubleMean":
        return F.avg(_num_field(spec, registry).cast("double")).alias(name)
    if t in _FIRST_LAST:
        which, typ = _FIRST_LAST[t]
        time_col = _first_last_key(spec, df)
        v = _field(spec, registry).cast(typ)
        if which == "first":
            return F.min_by(v, time_col).alias(name)
        return F.max_by(v, time_col).alias(name)
    if t in _ANY:
        return F.any_value(_field(spec, registry).cast(_ANY[t]),
                           ignoreNulls=True).alias(name)
    if t == "hyperUnique" and spec.get("legacy"):
        # legacy=true marks the column as REAL Druid
        # HyperLogLogCollector wire state (or raw values to be hashed
        # with murmur3_128 like the reference's ingest). The fold runs
        # in Arrow batches (ingest/hllc.py), which cannot live inside
        # a Column .agg() list — compile_groupby reroutes these specs
        # through hllc_rollup and joins the result back.
        raise NotImplementedError(
            "legacy hyperUnique aggregators run through the "
            "groupBy / timeseries / topN query paths (the compiler "
            "reroutes them via ingest.hllc.hllc_rollup); this query "
            "type compiles aggregators as Columns and cannot host "
            "the Arrow fold")
    if t in ("hyperUnique", "HLLSketchBuild", "HLLSketchMerge"):
        # Over a stored COMPLEX sketch column (BinaryType — ingest-time
        # hyperUnique state written by ingest.batch.rollup via
        # hll_sketch_agg; HyperUniquesAggregatorFactory.java factorizes
        # a merging aggregator when the input column is COMPLEX):
        # union the states and finalize to the double estimate.
        field = spec.get("fieldName")
        if (df is not None and isinstance(field, str)
                and field in df.columns
                and isinstance(df.schema[field].dataType, T.BinaryType)):
            merged = F.hll_union_agg(fcol(field))
            if not finalize:  # subquery: stay mergeable state
                return merged.alias(name)
            return F.hll_sketch_estimate(merged).alias(name)
        if not finalize:
            # raw values -> state, built with the ingest rollup path's
            # key encoding AND lgK (ADVICE r10: a hardcoded 12 ignored
            # the spec's lgK; hll_union_agg over mixed-lgK states fails
            # when allowDifferentLgConfigK is false, and HLLSketchBuild
            # with explicit lgK silently lost its precision)
            from apache_druid_spark.ingest.batch import (_hll_input,
                                                         _hll_lgk)

            return F.hll_sketch_agg(
                _hll_input(_field(spec, registry)),
                _hll_lgk(spec)).alias(name)
        # Over raw values: rsd 0.02 ~ Druid's 2048-bucket HLL (~2.3%
        # std error, hll/.../HyperLogLogCollector.java)
        return F.approx_count_distinct(
            _field(spec, registry), 0.02).alias(name)
    if t == "cardinality":
        fields = spec.get("fields", [])
        cols = [fcol(f) if isinstance(f, str) else fcol(f["dimension"])
                for f in fields]
        # COMPLEX (sketch-state) inputs are not cardinality-able — they
        # read as NULL, estimating 0
        # (testGroupByCardinalityAggOnHyperUnique)
        if df is not None:
            names = [f if isinstance(f, str) else f["dimension"]
                     for f in fields]
            cols = [F.lit(None).cast("string")
                    if (n in df.columns and isinstance(
                        df.schema[n].dataType, T.BinaryType)) else c
                    for n, c in zip(names, cols)]
        if not cols:  # no dims → empty collector → 0, not IndexError
            return F.approx_count_distinct(F.lit(None)).alias(name)
        if len(cols) == 1:
            # single dim: nulls are skipped (an all-null input — e.g.
            # a COMPLEX column — estimates 0, where concat_ws would
            # fold NULL to '' and count 1)
            return F.approx_count_distinct(
                cols[0].cast("string"), 0.02).alias(name)
        if spec.get("byRow", False):
            # byRow: distinct dim tuples (NUL separator avoids
            # ("ab","c") == ("a","bc") collisions)
            return F.approx_count_distinct(
                F.concat_ws("\x00", *[c.cast("string") for c in cols]), 0.02
            ).alias(name)
        # byValue over multiple dims: cardinality of the UNION of the
        # dims' value sets (CardinalityAggregatorFactory.java byValue
        # path adds every dim's value to one collector, so 'x' seen in
        # dim1 and dim2 counts once). Exact here — collect_set per dim
        # then union — a strict-accuracy upgrade over the reference's
        # HLL. Nulls are skipped, matching the collector. Memory note:
        # per-group set size is the value-set cardinality, the same
        # state bound a Druid HLL avoids only by approximating; for
        # ultra-high-cardinality dims use byRow or hyperUnique instead.
        sets = [F.collect_set(c.cast("string")) for c in cols]
        out = sets[0]
        for s in sets[1:]:
            out = F.array_union(out, s)
        return F.size(out).cast("long").alias(name)
    if t == "filtered":
        inner = spec["aggregator"]
        cond = compile_filter(spec["filter"], df, registry)
        # Rebuild with FILTER semantics: agg(CASE WHEN cond THEN input END)
        return _filtered(inner, cond, df, registry).alias(
            spec.get("name", inner.get("name")))
    if t == "grouping":
        return F.grouping_id().alias(name)
    if t in ("thetaSketch", "sketchMerge", "sketchBuild"):
        # Over raw values: exact distinct — a strict-accuracy upgrade
        # Druid can't do without sketches because it never shuffles
        # (SURVEY §2.7). Over stored theta STATE (sketchMerge /
        # isInputThetaSketch, SketchMergeAggregatorFactory.java): merge
        # with Spark's native DataSketches theta union and finalize.
        if t == "sketchMerge" or spec.get("isInputThetaSketch"):
            return F.theta_sketch_estimate(
                F.theta_union_agg(_field(spec, registry))
            ).cast("long").alias(name)
        return F.count_distinct(_field(spec, registry)).alias(name)
    if t == "distinctCount":
        # contrib extensions-contrib/distinctcount/
        # DistinctCountAggregatorFactory.java (exact per-segment bitmap
        # count; Spark's shuffled count_distinct is globally exact, so
        # this is the same strict-accuracy upgrade as thetaSketch)
        return F.count_distinct(_field(spec, registry)).alias(name)
    if t in ("timeMin", "timeMax"):
        # contrib extensions-contrib/time-min-max/
        # TimestampMinMaxModule.java:38-40; fieldName defaults to the
        # row timestamp, result is epoch millis
        # (TimestampAggregatorFactory stores long millis)
        src = (fcol(spec["fieldName"]) if spec.get("fieldName")
               else fcol(TIME_COLUMN))
        millis = F.unix_millis(src.cast("timestamp"))
        fn = F.min if t == "timeMin" else F.max
        return fn(millis).alias(name)
    if t in ("quantilesDoublesSketch",):
        return F.percentile_approx(
            _field(spec, registry).cast("double"), 0.5, 10000).alias(name)
    if t in ("tDigestSketch", "buildTDigestSketch",
             "momentSketch", "momentSketchMerge"):
        # contrib tdigest/momentsketch quantiles
        # (extensions-contrib/{tdigestsketch,momentsketch}) — exact
        # percentile (SQL PERCENTILE_CONT), a strict-accuracy upgrade;
        # Spark's sort-based exact percentile distributes fine and the
        # fraction list is a query constant
        fracs = spec.get("fractions", [0.5])
        frac = F.lit(fracs[0]) if len(fracs) == 1 else F.array(
            *[F.lit(float(p)) for p in fracs])
        return F.percentile(
            _field(spec, registry).cast("double"), frac).alias(name)
    if t == "variance":
        est = spec.get("estimator", "")
        fn = F.var_pop if est == "population" else F.var_samp
        return fn(_field(spec, registry).cast("double")).alias(name)
    if t == "stddev":
        est = spec.get("estimator", "")
        fn = F.stddev_pop if est == "population" else F.stddev_samp
        return fn(_field(spec, registry).cast("double")).alias(name)
    if t == "histogram":
        breaks = spec.get("breaks", [])
        v = _field(spec, registry).cast("double")
        arr = F.array(*[
            F.sum(F.when((v >= F.lit(lo)) & (v < F.lit(hi)), 1).otherwise(0))
            for lo, hi in zip(breaks, breaks[1:])
        ])
        return arr.alias(name)
    if t == "longAnyValue":
        return F.any_value(_field(spec, registry)).alias(name)
    if t == "expression":
        return _expression_lambda(spec, registry, df).alias(name)
    if t == "javascript":
        raise NotImplementedError("javascript aggregators unsupported")
    raise ValueError(f"unknown aggregator type: {t!r}")


def _hyper_unique_direct(spec: dict, registry, df=None) -> Column | None:
    """Rewrite the hyper_unique()/hyper_unique_add() collector fold
    (HyperUniqueExpressions.java; GroupByQueryRunnerTest
    testGroupByWithExpressionAggregatorWithComplex) to a REAL bounded
    HLL aggregate instead of the generic collect_list fold.

    The reference's collector is ~1.5 KB fixed per group
    (HyperLogLogCollector.java); the generic expression-lambda path
    materializes every group value (collect_list), so a
    high-cardinality group is unbounded. This rewrite carries
    DataSketches HLL state (hll_sketch_agg, lgK=12 — ≤ 2 KB per group
    regardless of cardinality, partial/final merged map-side) through
    the SAME expression spelling. Estimates are exact below the
    sketch's coupon-mode threshold (hundreds of distinct values),
    ~2%-RSE approximate above it — the reference's own contract.
    Returns None when the spec is not the hyper_unique pattern (the
    generic fold handles it)."""
    import re

    fields = list(spec.get("fields") or [])
    if len(fields) != 1:
        return None
    field = fields[0]
    if not re.fullmatch(r"\s*hyper_unique\(\s*\)\s*",
                        str(spec.get("initialValue", ""))):
        return None
    acc = re.escape(spec.get("accumulatorIdentifier", "__acc"))
    fold = str(spec.get("fold", ""))
    m = (re.fullmatch(rf"\s*hyper_unique_add\(\s*(.+)\s*,\s*{acc}\s*\)\s*",
                      fold)
         or re.fullmatch(rf"\s*hyper_unique_add\(\s*{acc}\s*,\s*(.+)\s*\)\s*",
                         fold))
    if m is None:
        return None
    # MV inputs fold per element (flatten) — generic path handles that
    if (df is not None and field in df.columns
            and isinstance(df.schema[field].dataType, T.ArrayType)):
        return None
    fin = spec.get("finalize")
    if fin is None:
        # advisor r15: an unfinalized collector must stay
        # representation-consistent with the scalar hyper_unique_*
        # spellings (exact-set array<string>) — returning raw sketch
        # bytes here broke hyper_unique_estimate post-aggs
        # (F.size(binary) is an analysis error) and outer re-folds
        # (hll_sketch_agg over the serialized sketch counts STATES as
        # values). The generic fold keeps the whole unfinalized
        # pipeline on one representation; the bounded-HLL rewrite
        # applies exactly when the spec finalizes to an estimate, so
        # the state never escapes the aggregate.
        return None
    fm = re.fullmatch(r"\s*hyper_unique_(round_)?estimate\(\s*o\s*\)\s*",
                      str(fin))
    if fm is None:
        return None
    rounded = bool(fm.group(1))
    try:
        inp = compile_expression(m.group(1), registry)
    except Exception:
        return None
    if (df is not None and field in df.columns
            and isinstance(df.schema[field].dataType, T.BinaryType)):
        # the input IS stored sketch state (an ingest-time COMPLEX
        # hyperUnique metric): fold by UNION, not by re-sketching the
        # serialized bytes as string values
        state = F.hll_union_agg(inp, allowDifferentLgConfigK=True)
    else:
        # string domain, SQL nulls skipped — same as the scalar
        # hyper_unique_add (HyperUniqueExpressions.java:170)
        state = F.hll_sketch_agg(inp.cast("string"), 12)
    # an all-null group aggregates to a NULL sketch; the reference's
    # empty collector estimates 0
    est = F.coalesce(F.hll_sketch_estimate(state), F.lit(0))
    return est.cast("long") if rounded else est.cast("double")


def _expression_lambda(spec: dict, registry, df=None) -> Column:
    """ExpressionLambdaAggregatorFactory
    (processing/.../aggregation/ExpressionLambdaAggregatorFactory.java):
    init/fold[/finalize] expressions in the native language, accumulator
    bound as `__acc` (line 63), finalize input bound as `o` (line 60).

    Spark shape: collect_list + the aggregate() higher-order function —
    the fold runs element-wise inside codegen. Group state materializes
    as an array, which Druid also bounds (maxSizeBytes); for the common
    numeric folds this is fine, for giant groups use a built-in
    aggregator instead. The hyper_unique collector fold is rewritten
    to bounded HLL sketch state (_hyper_unique_direct) so its
    per-group memory is fixed like the reference's collector."""
    direct = _hyper_unique_direct(spec, registry, df)
    if direct is not None:
        return direct
    fields = list(spec.get("fields") or [])
    if len(fields) > 1:
        raise NotImplementedError(
            "expression lambda aggregator needs at most one field in v1")
    acc_id = spec.get("accumulatorIdentifier", "__acc")
    env = {acc_id: "__fold_acc"}
    # a field-less lambda folds once per ROW (the reference's diy-count
    # shape: fold '__acc + 1' — testGroupByWithExpressionAggregator's
    # "rows")
    values = "collect_list(1)"
    if fields:
        field = fields[0]
        env[field] = "__fold_x"
        values = f"collect_list({ident(field)})"
        if (df is not None and field in df.columns
                and isinstance(df.schema[field].dataType, T.ArrayType)):
            # a multi-value input folds PER VALUE — the reference's
            # expression aggregator visits each element of an MV row
            # (GroupByQueryRunnerTest
            # testGroupByExpressionAggregatorArrayMultiValue:
            # array_set_add(acc, placementish) accumulates the
            # flattened token set)
            values = f"flatten({values})"
    folded = (f"aggregate({values}, "
              f"{expression_sql(spec['initialValue'], registry)}, "
              f"(__fold_acc, __fold_x) -> "
              f"{expression_sql(spec['fold'], registry, env)})")
    fin = spec.get("finalize")
    if fin:
        folded = expression_sql(fin, registry, {"o": folded})
    return F.expr(folded)


def _filtered(inner: dict, cond: Column, df, registry) -> Column:
    """FilteredAggregatorFactory: aggregate only matching rows —
    agg(when(cond, input)); count becomes sum(when(cond,1,0))."""
    t = inner["type"]
    if t == "count":
        return F.sum(F.when(cond, 1).otherwise(0))
    if t in _SUM_TYPES:
        return F.sum(F.when(cond, _field(inner, registry).cast(_SUM_TYPES[t])))
    if t in _MINMAX:
        fn, typ = _MINMAX[t]
        return getattr(F, fn)(F.when(cond, _field(inner, registry).cast(typ)))
    if t == "doubleMean":
        return F.avg(F.when(cond, _field(inner, registry).cast("double")))
    if t in _FIRST_LAST:
        which, typ = _FIRST_LAST[t]
        v = F.when(cond, _field(inner, registry).cast(typ))
        tc = F.when(cond, _first_last_key(inner, df))
        return F.min_by(v, tc) if which == "first" else F.max_by(v, tc)
    if t in ("hyperUnique", "HLLSketchBuild", "HLLSketchMerge"):
        # same rsd as the unfiltered path (0.02 ~ Druid's 2048-bucket HLL)
        return F.approx_count_distinct(
            F.when(cond, _field(inner, registry)), 0.02)
    if t == "cardinality":
        cols = [fcol(f) if isinstance(f, str) else fcol(f["dimension"])
                for f in inner.get("fields", [])]
        if not cols:  # no dims → empty collector → 0, not IndexError
            return F.approx_count_distinct(F.lit(None))
        if inner.get("byRow", False) or len(cols) == 1:
            tup = (F.concat_ws("\x00", *[c.cast("string") for c in cols])
                   if len(cols) > 1 else cols[0])
            return F.approx_count_distinct(F.when(cond, tup), 0.02)
        # byValue multi-dim: union of per-dim value sets, same
        # construction as the unfiltered branch (collect_set skips the
        # filtered-out NULLs that F.when produces)
        sets = [F.collect_set(F.when(cond, c.cast("string"))) for c in cols]
        out = sets[0]
        for s in sets[1:]:
            out = F.array_union(out, s)
        return F.size(out).cast("long")
    if t in ("thetaSketch", "sketchMerge", "sketchBuild"):
        return F.count_distinct(F.when(cond, _field(inner, registry)))
    if t == "variance":
        fn = (F.var_pop if inner.get("estimator", "") == "population"
              else F.var_samp)
        return fn(F.when(cond, _field(inner, registry).cast("double")))
    if t == "stddev":
        fn = (F.stddev_pop if inner.get("estimator", "") == "population"
              else F.stddev_samp)
        return fn(F.when(cond, _field(inner, registry).cast("double")))
    if t in ("quantilesDoublesSketch",):
        return F.percentile_approx(
            F.when(cond, _field(inner, registry).cast("double")), 0.5, 10000)
    if t in ("tDigestSketch", "buildTDigestSketch",
             "momentSketch", "momentSketchMerge"):
        fracs = inner.get("fractions", [0.5])
        frac = F.lit(fracs[0]) if len(fracs) == 1 else F.array(
            *[F.lit(float(p)) for p in fracs])
        return F.percentile(
            F.when(cond, _field(inner, registry).cast("double")), frac)
    if t in _ANY:
        return F.any_value(
            F.when(cond, _field(inner, registry).cast(_ANY[t])),
            ignoreNulls=True)
    # Erroring beats any_value() silently standing in for an aggregate
    # the caller asked for (FilteredAggregatorFactory wraps ANY factory).
    raise NotImplementedError(
        f"filtered aggregator does not support inner type {t!r}")


_QUANTILE_POSTAGG_TYPES = {
    "quantilesDoublesSketchToQuantile", "quantilesDoublesSketchToQuantiles",
    "quantilesDoublesSketchToRank", "quantilesDoublesSketchToCDF",
    "quantilesDoublesSketchToHistogram",
}

_QUANTILE_AGG_TYPES = {"quantilesDoublesSketch", "quantilesDoublesSketchMerge",
                       "KLLDoublesSketch", "KLLFloatsSketch"}


_THETA_POSTAGG_TYPES = {"thetaSketchEstimate", "thetaSketchSetOp"}
_THETA_AGG_TYPES = {"thetaSketch", "sketchMerge", "sketchBuild"}
_HIDDEN_SKETCH_PREFIX = "__sketch_pa__"


def _theta_sketch_node(p, by_name, registry, sketches: dict,
                       df=None) -> Column:
    """A sketch-valued Column for one node of a theta post-agg tree
    (fieldAccess over a theta aggregator — possibly a FILTERED wrapper
    around one — or a nested setOp). Hidden per-group sketch-state
    aggregates accumulate in ``sketches``."""
    from apache_druid_spark.operators.filters import compile_filter

    t = p.get("type")
    if t in ("fieldAccess", "finalizingFieldAccess"):
        fname = p["fieldName"]
        src = by_name.get(fname)
        cond = None
        if src is not None and src.get("type") == "filtered":
            cond = compile_filter(src.get("filter"), df, registry)
            src = src.get("aggregator") or {}
        if src is None or src.get("type") not in _THETA_AGG_TYPES:
            raise ValueError(
                f"theta post-aggregator references {fname!r}, which is "
                "not a theta sketch aggregator")
        hidden = _HIDDEN_SKETCH_PREFIX + fname
        if hidden not in sketches:
            inp = _field(src, registry)
            if cond is not None:
                inp = F.when(cond, inp)
            if src.get("type") == "sketchMerge" or \
                    src.get("isInputThetaSketch"):
                sketches[hidden] = F.theta_union_agg(inp).alias(hidden)
            else:
                sketches[hidden] = F.theta_sketch_agg(
                    inp.cast("string")).alias(hidden)
        return fcol(hidden)
    if t == "thetaSketchSetOp":
        fields = [_theta_sketch_node(f, by_name, registry, sketches, df)
                  for f in p["fields"]]
        func = (p.get("func") or "UNION").upper()
        op = {"UNION": F.theta_union, "INTERSECT": F.theta_intersection,
              "NOT": F.theta_difference}.get(func)
        if op is None:
            raise ValueError(f"unknown theta set op {func!r}")
        out = fields[0]
        for b in fields[1:]:
            out = op(out, b)
        return out
    raise ValueError(f"unsupported node in theta post-aggregator: {t!r}")


_HLL_POSTAGG_TYPES = {"HLLSketchToEstimate", "HLLSketchToEstimateWithBounds",
                      "HLLSketchUnion"}
_HLL_AGG_TYPES = {"HLLSketchBuild", "HLLSketchMerge", "hyperUnique"}


def _hll_sketch_node(p, by_name, registry, sketches: dict, df=None) -> Column:
    """A sketch-valued Column for one node of an HLL post-agg tree
    (fieldAccess over an HLL aggregator, or a nested HLLSketchUnion)."""
    from apache_druid_spark.ingest.batch import _hll_input
    from apache_druid_spark.operators.filters import compile_filter

    t = p.get("type")
    if t in ("fieldAccess", "finalizingFieldAccess"):
        fname = p["fieldName"]
        src = by_name.get(fname)
        cond = None
        if src is not None and src.get("type") == "filtered":
            cond = compile_filter(src.get("filter"), df, registry)
            src = src.get("aggregator") or {}
        if src is None or src.get("type") not in _HLL_AGG_TYPES:
            raise ValueError(
                f"HLL post-aggregator references {fname!r}, which is "
                "not an HLL sketch aggregator")
        hidden = _HIDDEN_SKETCH_PREFIX + fname
        if hidden not in sketches:
            inp = _field(src, registry)
            lgk = int(src.get("lgK", 12))
            is_state = (src.get("type") == "HLLSketchMerge"
                        or (df is not None
                            and src.get("fieldName") in df.columns
                            and isinstance(
                                df.schema[src["fieldName"]].dataType,
                                T.BinaryType)))
            if cond is not None:
                inp = F.when(cond, inp)
            if is_state:
                sketches[hidden] = F.hll_union_agg(inp, True).alias(hidden)
            else:
                sketches[hidden] = F.hll_sketch_agg(
                    _hll_input(inp), lgk).alias(hidden)
        return fcol(hidden)
    if t == "HLLSketchUnion":
        fields = [_hll_sketch_node(f, by_name, registry, sketches, df)
                  for f in p["fields"]]
        out = fields[0]
        for b in fields[1:]:
            out = F.hll_union(out, b, True)
        return out
    raise ValueError(f"unsupported node in HLL post-aggregator: {t!r}")


def _hll_node_lgk(p, by_name) -> int:
    """The lgK of the sketch an HLL post-agg node produces — read off
    the REFERENCED AGGREGATOR (the real sketch parameter), never the
    post-agg spec, which carries no lgK in the reference
    (HllSketchToEstimateWithBoundsPostAggregator.java takes only
    field/numStdDevs). A union of mixed-lgK inputs downgrades to the
    smallest input lgK (DataSketches union semantics)."""
    t = p.get("type")
    if t in ("fieldAccess", "finalizingFieldAccess"):
        src = by_name.get(p.get("fieldName"))
        if src is not None and src.get("type") == "filtered":
            src = src.get("aggregator") or {}
        if src is not None and src.get("lgK") is not None:
            return int(src["lgK"])
        return 12
    if t == "HLLSketchUnion":
        # the union post-agg DOES declare its own lgK
        # (HllSketchUnionPostAggregator.java, default 12): the union
        # gadget runs at that precision, and the effective result
        # precision is the smallest of it and every input sketch
        own = int(p["lgK"]) if p.get("lgK") is not None else 12
        return min([own] + [_hll_node_lgk(f, by_name)
                            for f in p["fields"]])
    return 12


def synthesize_quantile_postaggs(agg_specs, post_specs, registry=None,
                                 df=None):
    """Fuse DoublesSketch post-aggregators into direct aggregates.

    The reference builds a quantile sketch per group and finalizes it
    with post-aggregators at the broker (extensions-core/datasketches/
    .../quantiles/DoublesSketchTo{Quantile,Quantiles,Rank,CDF,
    Histogram}PostAggregator.java). The Spark-first equivalent computes
    the requested statistic in the SAME aggregation — sort-based exact
    percentile / conditional counts — a strict-accuracy upgrade over
    the sketch (getRank is the EXCLUSIVE mass below the value; getCDF
    appends the trailing 1.0; the histogram's first bin is (-inf, s0)
    and last [sn, inf), counts as doubles).

    Returns (extra aggregate Columns, post-agg specs left to apply)."""
    by_name = {a.get("name"): a for a in agg_specs or []
               if isinstance(a, dict)}
    extra: list[Column] = []
    remaining: list[dict] = []
    theta_states: dict[str, Column] = {}
    for p in post_specs or []:
        t = p.get("type") if isinstance(p, dict) else None
        if t in _THETA_POSTAGG_TYPES:
            # theta estimate / set-op trees: synthesize hidden
            # per-group theta STATE aggregates (Spark's DataSketches
            # theta_sketch_agg), combine with theta_union/intersection/
            # difference in the post stage, finalize to the estimate
            # (SketchSetPostAggregator / SketchEstimatePostAggregator,
            # extensions-core/datasketches/.../theta/)
            node = p["field"] if t == "thetaSketchEstimate" else p
            sk = _theta_sketch_node(node, by_name, registry, theta_states,
                                    df)
            remaining.append({
                "type": "computed", "name": p.get("name"),
                "__column": F.theta_sketch_estimate(sk).cast("double"),
            })
            continue
        if t in _HLL_POSTAGG_TYPES:
            # HLL estimate / union trees (extensions-core/datasketches/
            # .../hll/HllSketchTo*.java): hidden per-group HLL state,
            # combined with hll_union in the post stage. Bounds use the
            # standard HLL RSE (1.04 / sqrt(2^lgK)) per stddev — a
            # documented approximation of DataSketches' mode-dependent
            # bounds (tight at these cardinalities).
            node = p["field"] if t != "HLLSketchUnion" else p
            sk = _hll_sketch_node(node, by_name, registry, theta_states, df)
            if t == "HLLSketchToEstimateWithBounds":
                est = F.hll_sketch_estimate(sk).cast("double")
                rse = 1.04 / (2.0 ** (_hll_node_lgk(node, by_name) / 2.0))
                ns = float(p.get("numStdDevs", 1))
                col = F.array(est, est / (1.0 + ns * rse),
                              est / (1.0 - ns * rse))
            else:
                col = F.hll_sketch_estimate(sk).cast("double")
                if p.get("round"):
                    col = F.round(col).cast("long")
            remaining.append({"type": "computed", "name": p.get("name"),
                              "__column": col})
            continue
        if t not in _QUANTILE_POSTAGG_TYPES:
            remaining.append(p)
            continue
        fld = p.get("field") or {}
        src = by_name.get(fld.get("fieldName"))
        if src is None or src.get("type") not in _QUANTILE_AGG_TYPES:
            raise ValueError(
                f"{t} must reference a quantiles sketch aggregator "
                f"(got field {fld.get('fieldName')!r})")
        x = _field(src, registry).cast("double")
        name = p["name"]
        n = F.count(x)
        if t.endswith("ToQuantile"):
            extra.append(
                F.percentile(x, F.lit(float(p["fraction"]))).alias(name))
        elif t.endswith("ToQuantiles"):
            fr = F.array(*[F.lit(float(f)) for f in p["fractions"]])
            extra.append(F.percentile(x, fr).alias(name))
        elif t.endswith("ToRank"):
            v = float(p["value"])
            extra.append((F.count(F.when(x < v, 1)) / n).alias(name))
        elif t.endswith("ToCDF"):
            sp = [float(s) for s in p["splitPoints"]]
            cols = [(F.count(F.when(x < s, 1)) / n).cast("double")
                    for s in sp] + [F.lit(1.0)]
            extra.append(F.array(*cols).alias(name))
        else:  # ToHistogram
            if p.get("splitPoints") is None:
                raise NotImplementedError(
                    "quantilesDoublesSketchToHistogram needs explicit "
                    "splitPoints in this engine (numBins derives splits "
                    "from the sketch's min/max — run a min/max query "
                    "first)")
            sp = [float(s) for s in p["splitPoints"]]
            bounds = [None] + sp + [None]
            cols = []
            for lo, hi in zip(bounds, bounds[1:]):
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (x >= lo)
                if hi is not None:
                    cond = cond & (x < hi)
                cols.append(F.count(F.when(cond, 1)).cast("double"))
            extra.append(F.array(*cols).alias(name))
    extra.extend(theta_states.values())
    return extra, remaining


def compile_aggregations(specs: list[dict], df=None, registry=None,
                         finalize: bool = True) -> list[Column]:
    return [compile_aggregator(s, df, registry, finalize=finalize)
            for s in specs or []]
