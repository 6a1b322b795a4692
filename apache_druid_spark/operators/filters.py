"""Druid DimFilter JSON -> Catalyst predicate Columns.

Reference: processing/src/main/java/org/apache/druid/query/filter/*.java
(SelectorDimFilter, BoundDimFilter, InDimFilter, LikeDimFilter,
RegexDimFilter, SearchQueryDimFilter, IntervalDimFilter, And/Or/Not,
ColumnComparisonDimFilter, ExpressionDimFilter, SpatialDimFilter,
True/FalseDimFilter).

Druid splits filters into bitmap pre-filters and value-matcher
post-filters (processing/.../segment/QueryableIndexStorageAdapter.java:404);
in Spark the same predicate expression serves both roles — Catalyst
pushes what parquet can evaluate into the scan (PushedFilters) and
codegen evaluates the rest per row. Interval filters on ``__time``
become range predicates, which is what enables partition pruning on
time-partitioned tables at 100 TB.

Multi-value string dimension semantics (ARRAY columns): a value filter
matches a row if ANY element matches
(processing/.../segment/data/ColumnarMultiInts.java semantics) —
implemented with F.exists so it stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_druid_spark.model.granularity import instant_lit, parse_interval
from apache_druid_spark.operators.util import fcol, ident


def _is_array_col(df: DataFrame | None, name: str) -> bool:
    if df is None:
        return False
    try:
        return isinstance(df.schema[name].dataType, T.ArrayType)
    except KeyError:
        return False


def _expression_filter(text: str, df: DataFrame | None, registry) -> Column:
    """ExpressionFilter with Druid's schema-driven coercions
    (ExpressionFilterTest): a MISSING column reads as null (sqlCompat:
    'missing == null' still matches nothing — SQL null semantics); a
    scalar expression over a MULTI-VALUE column maps per element and
    the filter matches when ANY element is truthy ("dim4 == '1'"); a
    scalar string column auto-coerces to a one-element array when fed
    to an array function (array_contains(dim3, '1'))."""
    from apache_druid_spark.operators.expressions import (
        expression_identifiers, expression_sql,
    )

    env: dict = {}
    arrays: list[str] = []
    strings: list[str] = []
    if df is not None:
        for name in expression_identifiers(text):
            if name not in df.columns:
                env[name] = "CAST(NULL AS STRING)"
            else:
                dt = df.schema[name].dataType
                if isinstance(dt, T.ArrayType):
                    arrays.append(name)
                elif isinstance(dt, T.StringType):
                    strings.append(name)

    def cond(binds: dict) -> str:
        sql = expression_sql(text, registry, {**env, **binds})
        return f"CAST({sql} AS BOOLEAN)"

    base = F.expr(cond({}))
    if df is None:
        return base
    try:
        df.select(base)  # analysis probe: do the types line up whole-row?
        return base
    except Exception:
        pass
    if len(arrays) == 1:
        name = arrays[0]
        arr = ident(name)
        # a null/empty multi-value row behaves as the single null value
        out = F.expr(
            f"CASE WHEN {arr} IS NULL OR size({arr}) = 0 THEN coalesce("
            f"{cond({name: 'CAST(NULL AS STRING)'})}, false) "
            f"ELSE exists({arr}, __e -> {cond({name: '__e'})}) END")
        df.select(out)
        return out
    if not arrays and strings:
        alt = F.expr(cond({s: f"array({ident(s)})" for s in strings}))
        df.select(alt)
        return alt
    return base  # surface the original analysis error at execution


def _like_to_spark_pattern(pat: str, esc: str | None) -> str:
    """Normalize a Druid LIKE pattern to Spark's backslash-escape form.

    Druid's LikeDimFilter lets the (optional) escape char precede ANY
    character, taking it literally ('@bar' escape '@' matches 'bar' —
    LikeFilterTest.testExactMatchWithEscape); Spark rejects an escape
    before a non-wildcard. Without an escape declared, Druid treats
    backslash as a LITERAL character, while Spark always escapes on
    backslash — so literal backslashes must be doubled too."""
    out = []
    i = 0
    while i < len(pat):
        ch = pat[i]
        if esc is not None and ch == esc and i + 1 < len(pat):
            nxt = pat[i + 1]
            if nxt in ("%", "_"):
                out.append("\\" + nxt)
            elif nxt == "\\":
                out.append("\\\\")
            else:
                out.append(nxt)
            i += 2
            continue
        if ch == "\\" and esc != "\\":
            out.append("\\\\")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _numeric_dtype(df: DataFrame | None, name: str):
    """The column's Spark DataType if it is a numeric scalar, else None."""
    if df is None:
        return None
    try:
        dt = df.schema[name].dataType
    except Exception:
        return None
    return dt if isinstance(dt, T.NumericType) else None


_INTEGRAL_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _numeric_match_literal(v, dtype) -> str | None:
    """Druid's value-to-column coercion for selector/in predicates
    (DruidLongPredicate via BigDecimal.longValueExact — LongFilteringTest:
    '3.0' matches long 3, '3.00000000000000000000001' matches nothing,
    '1.999999999999999999' does NOT round to 2). Returns the string to
    cast into the column's type, or None when the value can never
    match."""
    from decimal import Decimal, InvalidOperation

    s = str(v).strip()
    try:
        d = Decimal(s)
    except InvalidOperation:
        return None
    if isinstance(dtype, _INTEGRAL_TYPES):
        if d != d.to_integral_value():
            return None
        i = int(d)
        # range-check against the ACTUAL integral type's bounds, not
        # just long: '5000000000' on an IntegerType column would
        # survive a long-only check, cast to null under non-ANSI, and
        # eqNullSafe(null) would then MATCH null rows — Druid's
        # long/int predicate matches nothing for such a value
        bits = {T.LongType: 64, T.IntegerType: 32,
                T.ShortType: 16, T.ByteType: 8}[type(dtype)]
        if not (-(2 ** (bits - 1)) <= i < 2 ** (bits - 1)):
            return None
        return str(i)
    return s


def _dim_predicate(df: DataFrame | None, dim: str, pred, extraction_fn=None) -> Column:
    """Apply a scalar predicate to a dimension, with multi-value ANY
    semantics for array columns and optional extractionFn applied to
    each (element) value first."""
    from apache_druid_spark.operators.dimensions import compile_extraction_fn

    def extract(sql: str) -> str:
        if extraction_fn is None:
            return sql
        return compile_extraction_fn(extraction_fn, sql)

    null = "CAST(NULL AS STRING)"
    if _is_array_col(df, dim):
        col = fcol(dim)
        # ANY-element match; a null or empty multi-value row behaves as
        # a single null value (Druid ingests [] as a no-value row)
        elems = col if extraction_fn is None else F.expr(
            f"transform({ident(dim)}, __x -> {extract('__x')})")
        return F.when(col.isNull() | (F.size(col) == 0),
                      F.coalesce(pred(F.expr(extract(null))), F.lit(False))
                      ).otherwise(F.exists(elems, pred))
    col = ident(dim)
    if (df is not None and dim in df.columns
            and isinstance(df.schema[dim].dataType, T.BinaryType)):
        # a COMPLEX (sketch-state) column reads NULL as a filter input
        # (testGroupByComplexColumn's null selector matches every row)
        col = null
    if (dim == "__time" and df is not None
            and "__time" in df.columns
            and isinstance(df.schema["__time"].dataType,
                           T.TimestampType)):
        # Druid's __time is a LONG of epoch millis: BARE value filters
        # (selector/bound/in) compare against the stringified millis
        # (GroupByQueryRunnerTest.testDimFilterHavingSpec selects
        # __time = '1301616000000'), and non-time extraction fns
        # (lookup, stringFormat, regex, ...) receive the millis long as
        # their input (TimeFilteringTest.testTimeFilterWithExtractionFn
        # looks up '0'..'5'). Only timeFormat consumes the timestamp
        # directly (testSubqueryWithOuterTimeFilter filters
        # EEEE='Friday').
        if not _wants_timestamp(extraction_fn):
            col = f"unix_millis({col})"
    return pred(F.expr(extract(col)))


def _wants_timestamp(fn) -> bool:
    """True when the extraction fn natively consumes a timestamp
    (timeFormat, incl. as the head of a cascade); every other fn gets
    the Druid-native millis long."""
    if fn is None:
        return False
    t = fn.get("type")
    if t == "timeFormat":
        return True
    if t == "cascade":
        fns = fn.get("extractionFns") or []
        return bool(fns) and _wants_timestamp(fns[0])
    return False


def interval_predicate(col: Column, intervals: list[str]) -> Column:
    """ISO-8601 interval list -> [start, end) range predicates, OR'd.
    Range form keeps the predicate pushdown- and partition-pruning-able."""
    out = None
    for iv in intervals:
        lo, hi = parse_interval(iv)
        p = (col >= instant_lit(lo)) & (col < instant_lit(hi))
        out = p if out is None else (out | p)
    return out if out is not None else F.lit(True)


_ORDERING_CASTS = {
    "numeric": lambda c: c.cast("double"),
    "lexicographic": lambda c: c.cast("string"),
    "strlen": None,  # handled specially
    "alphanumeric": None,
    "version": None,
}


def _bound_predicate(spec: dict):
    """BoundFilter.doesMatch (processing/.../segment/filter/
    BoundFilter.java:227-254), SQL-compatible mode:

    - a NULL input matches iff the filter has no lower bound (the
      upper-bound clause is always satisfied when the upper is a
      non-null string — BoundFilterTest.testLexicographicMatchEverything
      matches the null dim2 rows under (null, "z"));
    - non-null inputs go through the named StringComparator
      (processing/.../query/ordering/StringComparators.java): NUMERIC
      treats an unparseable string as BELOW every number and compares
      two unparseables lexicographically (NumericComparator:358-404),
      so 'abc' matches any parseable upper bound."""
    ordering = spec.get("ordering") or (
        "alphanumeric" if spec.get("alphaNumeric") else "lexicographic")
    lower, upper = spec.get("lower"), spec.get("upper")
    lower_strict = bool(spec.get("lowerStrict", False))
    upper_strict = bool(spec.get("upperStrict", False))

    def key(c: Column) -> Column:
        if ordering in ("alphanumeric", "version", "strlen"):
            # same comparator keys as ORDER BY (StringComparators.java)
            from apache_druid_spark.operators.limitspec import _sort_key

            return _sort_key(c, ordering)
        return c.cast("string")

    def _num(v):
        try:
            return float(str(v))
        except ValueError:
            return None

    def pred(c: Column) -> Column:
        conds = []
        if ordering == "numeric":
            s = c.cast("string")
            k = s.cast("double")
            if lower is not None:
                ln = _num(lower)
                if ln is None:  # unparseable lower sorts below numbers
                    base = s > F.lit(str(lower)) if lower_strict \
                        else s >= F.lit(str(lower))
                    conds.append(k.isNotNull() | base)
                else:
                    cond = k > F.lit(ln) if lower_strict else k >= F.lit(ln)
                    conds.append(F.coalesce(cond, F.lit(False)))
            if upper is not None:
                un = _num(upper)
                if un is None:  # only unparseables can be <= it
                    base = s < F.lit(str(upper)) if upper_strict \
                        else s <= F.lit(str(upper))
                    conds.append(k.isNull() & base)
                else:  # unparseable input is below every number
                    cond = k < F.lit(un) if upper_strict else k <= F.lit(un)
                    conds.append(k.isNull() | cond)
        else:
            k = key(c)
            if lower is not None:
                lk = key(F.lit(str(lower)))
                conds.append(k > lk if lower_strict else k >= lk)
            if upper is not None:
                uk = key(F.lit(str(upper)))
                conds.append(k < uk if upper_strict else k <= uk)
        out = F.lit(True)
        for p in conds:
            out = out & p
        return F.when(c.isNull(), F.lit(lower is None)).otherwise(out)

    return pred


def compile_filter(spec: dict | None, df: DataFrame | None = None,
                   registry=None) -> Column:
    """Compile a Druid filter JSON dict into a boolean Column."""
    if spec is None:
        return F.lit(True)
    t = spec["type"]

    if t == "true":
        return F.lit(True)
    if t == "false":
        return F.lit(False)
    if t == "and":
        out = F.lit(True)
        for f in spec["fields"]:
            out = out & compile_filter(f, df, registry)
        return out
    if t == "or":
        out = F.lit(False)
        for f in spec["fields"]:
            out = out | compile_filter(f, df, registry)
        return out
    if t == "not":
        return ~compile_filter(spec["field"], df, registry)

    efn = spec.get("extractionFn")

    if t == "selector":
        v = spec.get("value")
        if v is None:
            return _dim_predicate(df, spec["dimension"], lambda c: c.isNull(), efn)
        if efn is None:
            nt = _numeric_dtype(df, spec["dimension"])
            if nt is not None:
                # numeric column: Druid parses the selector value into
                # the column's type (SelectorFilter -> numeric
                # DruidPredicateFactory), so '0' matches 0.0f — the
                # stringified float would render '0.0' and never match
                # (SelectorFilterTest.testNumericColumnNullsAndDefaults)
                lit = _numeric_match_literal(v, nt)
                if lit is None:
                    return F.lit(False)  # can never match this column
                return fcol(spec["dimension"]).eqNullSafe(
                    F.lit(lit).cast(nt))
        # NULL-SAFE equality: Druid's native filters are two-valued —
        # a null row simply does not match (SelectorFilter's
        # value.equals(...)), so NOT(selector) MATCHES null rows
        # (TimeseriesQueryRunnerTest
        # testTimeseriesWithInvertedFilterOnNonExistentDimension; the
        # SQL layer's three-valued <> is rewritten at the dialect
        # level, not here)
        return _dim_predicate(
            df, spec["dimension"],
            lambda c: c.cast("string").eqNullSafe(F.lit(str(v))), efn
        )
    if t in ("equals",):  # newer-style equality filter
        v = spec.get("matchValue")
        return _dim_predicate(df, spec["column"],
                              lambda c: c.eqNullSafe(F.lit(v)), efn)
    if t == "in":
        vals = [str(v) if v is not None else None for v in spec["values"]]
        non_null = [v for v in vals if v is not None]
        has_null = len(non_null) != len(vals)

        if efn is None and not _is_array_col(df, spec["dimension"]):
            nt = _numeric_dtype(df, spec["dimension"])
            if nt is not None:
                # numeric column: each value coerces with BigDecimal
                # exactness (LongFilteringTest: '100000001.0' hits the
                # long 100000001, '1.999999999999999999' hits nothing)
                c = fcol(spec["dimension"])
                lits = [lv for lv in
                        (_numeric_match_literal(v, nt) for v in non_null)
                        if lv is not None]
                if isinstance(nt, _INTEGRAL_TYPES):
                    p = c.isin([int(x) for x in lits]) if lits else F.lit(False)
                    p = F.coalesce(p, F.lit(False))
                else:
                    p = F.lit(False)
                    for x in lits:
                        p = p | c.eqNullSafe(F.lit(x).cast(nt))
                if has_null:
                    p = p | c.isNull()
                return p

        def pred(c: Column) -> Column:
            p = c.cast("string").isin(non_null) if non_null else F.lit(False)
            if has_null:
                p = p | c.isNull()
            return p

        return _dim_predicate(df, spec["dimension"], pred, efn)
    if t == "bound":
        return _dim_predicate(df, spec["dimension"], _bound_predicate(spec), efn)
    if t == "like":
        pat = _like_to_spark_pattern(spec["pattern"], spec.get("escape"))
        return _dim_predicate(
            df, spec["dimension"], lambda c: c.cast("string").like(pat), efn)
    if t == "regex":
        pat = spec["pattern"]
        return _dim_predicate(
            df, spec["dimension"], lambda c: c.cast("string").rlike(pat), efn)
    if t == "search":
        q = spec["query"]
        qt = q["type"]
        if qt == "contains":
            needle = q["value"]
            if q.get("caseSensitive", False):
                return _dim_predicate(
                    df, spec["dimension"],
                    lambda c: F.contains(c.cast("string"), F.lit(needle)), efn)
            return _dim_predicate(
                df, spec["dimension"],
                lambda c: F.contains(F.lower(c.cast("string")),
                                     F.lit(needle.lower())), efn)
        if qt == "insensitive_contains":
            needle = q["value"]
            return _dim_predicate(
                df, spec["dimension"],
                lambda c: F.contains(F.lower(c.cast("string")),
                                     F.lit(needle.lower())), efn)
        if qt == "fragment":
            frags = q["values"]
            cs = q.get("caseSensitive", False)

            def pred(c: Column) -> Column:
                s = c.cast("string") if cs else F.lower(c.cast("string"))
                out = F.lit(True)
                for fr in frags:
                    out = out & F.contains(s, F.lit(fr if cs else fr.lower()))
                return out

            return _dim_predicate(df, spec["dimension"], pred, efn)
        raise ValueError(f"unknown search query type: {qt}")
    if t == "interval":
        # IntervalDimFilter: every non-timestamp input — numeric dims
        # AND string dims — is parsed as an epoch-MILLIS long
        # (IntervalDimFilter builds DruidLongPredicates;
        # TimeFilteringTest.testIntervalFilterOnStringDimension matches
        # dim0 '0'..'5' against 1970 millis intervals). A plain
        # long->timestamp cast in Spark reads SECONDS — a silent 1000x
        # offset — so go through timestamp_millis. extractionFn order
        # follows the reference (IntervalDimFilter builds
        # BoundDimFilters CARRYING the fn): on a non-__time dimension
        # the fn applies to the RAW dimension value and its OUTPUT is
        # parsed as millis (a substring/regex over an ISO-formatted
        # dim transforms the string first); only on __time — where the
        # raw value already IS the millis long — does the fn receive
        # millis.
        dim = spec["dimension"]
        c = fcol(dim)
        dt = dict(df.dtypes).get(dim) if df is not None else None
        if efn is not None:
            from apache_druid_spark.operators.dimensions import (
                compile_extraction_fn,
            )

        def _parse_millis(col: Column, col_dt: str | None) -> Column:
            if col_dt == "timestamp":
                return F.unix_millis(col)
            if col_dt == "string":
                # reference-first: epoch-millis long parse; this
                # engine additionally accepts ISO datetime strings as
                # a fallback (documented superset — the reference's
                # long-only parse would drop them)
                return F.coalesce(col.cast("long"),
                                  F.unix_millis(col.cast("timestamp")))
            return col.cast("long")

        if efn is not None and dt != "timestamp":
            # fn over the raw value, then millis-parse its string output
            raw = F.expr(compile_extraction_fn(efn, ident(dim), registry))
            millis = _parse_millis(raw.cast("string"), "string")
        else:
            millis = _parse_millis(c, dt)
            if efn is not None:
                # __time (timestamp-typed): the fn receives millis
                millis = F.expr(compile_extraction_fn(
                    efn, f"unix_millis({ident(dim)})", registry)
                ).cast("long")
        return interval_predicate(F.timestamp_millis(millis),
                                  spec["intervals"])
    if t == "columnComparison":
        # ColumnComparisonFilter (processing/.../segment/filter/
        # ColumnComparisonFilter.java:78-133): every PAIR of dimensions
        # must overlap — share at least one element under null-safe
        # equality. A scalar reads as a one-element set, a null/empty
        # multi-value row as {null} (Druid ingests [] as a no-value
        # row), and extraction dimension specs apply per element.
        from apache_druid_spark.operators.dimensions import compile_extraction_fn

        # a null value participates in equality (overlap's
        # Objects.equals), so encode it as a sentinel string and let
        # arrays_overlap do plain equality (nested F.exists lambdas
        # cannot bind the outer element variable)
        sentinel = "'\\u0000<druid-null>'"

        sets: list[Column] = []
        for d in spec["dimensions"]:
            if isinstance(d, str):
                d = {"type": "default", "dimension": d}
            name = d["dimension"]
            d_efn = d.get("extractionFn")

            def apply_efn(e: str, _fn=d_efn) -> str:
                if _fn is not None:
                    e = compile_extraction_fn(_fn, e, registry)
                return f"coalesce(CAST({e} AS STRING), {sentinel})"

            c = ident(name)
            if _is_array_col(df, name):
                arr = (f"CASE WHEN {c} IS NULL OR size({c}) = 0 THEN "
                       f"array({apply_efn('CAST(NULL AS STRING)')}) ELSE "
                       f"transform({c}, __x -> {apply_efn('__x')}) END")
            else:
                if df is not None and name not in df.columns:
                    c = "CAST(NULL AS STRING)"
                arr = f"array({apply_efn(c)})"
            sets.append(F.expr(arr))
        out = F.lit(True)
        for i in range(1, len(sets)):
            for j in range(i):
                out = out & F.arrays_overlap(sets[i], sets[j])
        return out
    if t == "expression":
        return _expression_filter(spec["expression"], df, registry)
    if t == "extraction":  # deprecated form: fn(dim) == value
        v = spec.get("value")
        return _dim_predicate(
            df, spec["dimension"],
            lambda c: c.cast("string") == F.lit(str(v)) if v is not None else c.isNull(),
            spec.get("extractionFn"))
    if t == "spatial":
        return _spatial_predicate(spec)
    if t == "bloom":
        # BloomDimFilter (extensions-core/druid-bloom-filter): test the
        # dim against a serialized bloom shipped inside the query
        from apache_druid_spark.functions.bloom import bloom_test_column
        return _dim_predicate(
            df, spec["dimension"],
            lambda c: bloom_test_column(c, spec["bloomKFilter"]),
            spec.get("extractionFn"))
    if t == "javascript":
        raise NotImplementedError(
            "javascript filters are not supported; use an 'expression' filter "
            "(reference escape hatch — SURVEY.md §2.4)")
    raise ValueError(f"unknown filter type: {t!r}")


def _spatial_predicate(spec: dict) -> Column:
    """Spatial bound over a 'lat,lon'-encoded spatial dimension
    (reference: processing/.../query/filter/SpatialDimFilter.java +
    collections/spatial/ImmutableRTree.java). The R-tree index is
    replaced by plain numeric predicates, which parquet min/max stats
    and Z-ordering handle at scale."""
    dim = spec["dimension"]
    bound = spec["bound"]
    parts = F.split(fcol(dim).cast("string"), ",")
    coords = [F.element_at(parts, i + 1).cast("double") for i in range(2)]
    bt = bound["type"]
    if bt == "rectangular":
        mins, maxs = bound["minCoords"], bound["maxCoords"]
        out = F.lit(True)
        for c, lo, hi in zip(coords, mins, maxs):
            out = out & (c >= F.lit(float(lo))) & (c <= F.lit(float(hi)))
        return out
    if bt == "radius":
        center, radius = bound["coords"], float(bound["radius"])
        d2 = F.lit(0.0)
        for c, ctr in zip(coords, center):
            d2 = d2 + (c - F.lit(float(ctr))) * (c - F.lit(float(ctr)))
        return d2 <= F.lit(radius * radius)
    if bt == "polygon":
        return _polygon_contains(coords[0], coords[1],
                                 bound["abscissa"], bound["ordinate"])
    raise ValueError(f"unknown spatial bound: {bt}")


def _polygon_contains(x: Column, y: Column,
                      abscissa: list, ordinate: list) -> Column:
    """Even-odd ray casting, unrolled over the literal vertex list
    (reference: collections/spatial/search/PolygonBound.java contains()).
    The vertex count is a query constant, so the whole test stays one
    codegen'd boolean expression — no UDF, no shuffle; at scale it
    runs inside the same WholeStageCodegen span as the scan filter."""
    n = len(abscissa)
    inside = F.lit(False)
    for i in range(n):
        j = (i - 1) % n
        xi, yi = float(abscissa[i]), float(ordinate[i])
        xj, yj = float(abscissa[j]), float(ordinate[j])
        crosses = ((F.lit(yi) > y) != (F.lit(yj) > y)) & (
            x < (y - F.lit(yi)) * F.lit((xj - xi) / (yj - yi) if yj != yi
                                        else 0.0) + F.lit(xi))
        inside = inside != crosses
    return inside
