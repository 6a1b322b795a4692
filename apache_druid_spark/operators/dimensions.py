"""DimensionSpecs and extraction functions.

Reference: processing/src/main/java/org/apache/druid/query/dimension/
{Default,Extraction,ListFiltered,RegexFiltered,PrefixFiltered,Lookup}DimensionSpec.java
and processing/src/main/java/org/apache/druid/query/extraction/*.java
(17 extraction fns).

An extraction fn compiles to Spark SQL text over the SQL text of its
input (``compile_extraction_fn``), as native expressions do, so it can
apply inside a higher-order function's lambda: over a multi-value
(array) input a caller maps it per element as
``transform(<col>, __x -> <fn over __x>)``. The timeFormat fn buckets
through model/granularity's builder, and the lookup fns through the SQL
dialect's ``lookup_sql`` (a map literal up to its inline cap or per
element, the broadcast lookup view above it). A dimension spec compiles
to a Column; over an array dimension the filtered specs are ``F.filter``
element whitelists, so the later explode sees only kept elements,
matching Druid's behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_druid_spark.model.granularity import (
    granularity_sql, in_zone, zone_sql,
)
from apache_druid_spark.operators.util import fcol, ident
from apache_druid_spark.sql.dialect import lookup_sql, map_value, spark_str

_DRUID_OUT_TYPES = {"STRING": "string", "LONG": "long", "FLOAT": "float",
                    "DOUBLE": "double"}


def _lit(v) -> str:
    """A string literal, or NULL for None."""
    return "CAST(NULL AS STRING)" if v is None else spark_str(v)


def compile_extraction_fn(spec: dict, sql: str, registry=None,
                          src_type=None) -> str:
    """Extraction fn JSON -> Spark SQL text of the fn applied to the
    (scalar) value ``sql``, itself SQL text. ``src_type`` (optional
    Spark DataType) disambiguates time inputs: a LONG source feeding
    timeFormat is epoch MILLIS (Druid time values are millis longs;
    Spark's long->timestamp cast would read seconds)."""
    t = spec["type"]
    s = f"CAST({sql} AS STRING)"
    if t == "identity":
        return sql
    if t == "regex":
        # RegexDimExtractionFn: matcher.find() semantics; an EMPTY
        # group on a successful match stays '' — only a true no-match
        # falls back to the replacement (or the original value)
        # (RegexDimExtractionFnTest.testNullAndEmpty: '(.*)/.*/.*'
        # applied to '/a/b' is '', not '/a/b'); a null input is a miss
        # too (apply(null) -> replacement)
        expr = spark_str(spec["expr"])
        miss = (_lit(spec.get("replaceMissingValueWith"))
                if spec.get("replaceMissingValue", False) else s)
        return (f"CASE WHEN {s} RLIKE {expr} THEN regexp_extract({s}, "
                f"{expr}, {int(spec.get('index', 1))}) ELSE {miss} END")
    if t == "partial":  # keep value only if regex matches
        return f"CASE WHEN {s} RLIKE {spark_str(spec['expr'])} THEN {s} END"
    if t == "substring":
        index = int(spec.get("index", 0))
        length = spec.get("length")
        if length is not None and int(length) <= 0:
            # SubstringDimExtractionFn ctor contract
            # (SubstringDimExtractionFnTest.testZeroLength)
            raise ValueError(
                f"substring length[{length}] must be strictly positive")
        n = 2147483647 if length is None else int(length)
        return (f"CASE WHEN length({s}) > {index} "
                f"THEN substring({s}, {index + 1}, {n}) END")
    if t == "strlen":
        return f"CAST(length({s}) AS STRING)"
    if t == "timeFormat":
        fmt = spec.get("format")
        tz = spec.get("timeZone")
        gran = spec.get("granularity")
        c = (f"timestamp_millis({sql})" if isinstance(src_type, T.LongType)
             else f"CAST({sql} AS TIMESTAMP)")
        if gran:
            c = granularity_sql(c, gran, tz)
        if spec.get("asMillis") and fmt is None:
            # TimeFormatExtractionFn(asMillis=true, format=null):
            # the (granularity-floored) instant as epoch millis
            # (testGroupByNestedDoubleTimeExtractionFnWithLongOutputTypes)
            return f"unix_millis({c})"
        fmt = spark_str(fmt or "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        return f"date_format({in_zone(zone_sql(tz), c, write=False)}, {fmt})"
    if t == "time":  # parse with timeFormat then reformat with resultFormat
        tf, rf = spec.get("timeFormat"), spec.get("resultFormat")
        parsed = (f"to_timestamp({s}, {spark_str(tf)})" if tf
                  else f"CAST({sql} AS TIMESTAMP)")
        out = (f"date_format({parsed}, {spark_str(rf)})" if rf
               else f"CAST({parsed} AS STRING)")
        # TimeDimExtractionFn.apply returns the ORIGINAL value when the
        # parse misses, and null only for a null input
        # (SelectorFilterTest.testWithTimeExtractionFnNull: a null
        # selector over extracted dim0 matches nothing — "0" fails to
        # parse but extracts to "0", not null)
        return f"coalesce({out}, {s})"
    if t in ("upper", "lower"):
        return f"{t}({s})"
    if t == "bucket":
        # BucketExtractionFn.bucket renders integral buckets WITHOUT a
        # decimal point ('2', not '2.0') and unparseable inputs as null
        # (BucketExtractionFnTest.testApply)
        size = float(spec.get("size", 1))
        offset = float(spec.get("offset", 0))
        b = (f"(floor((CAST({sql} AS DOUBLE) - {offset!r}D) / {size!r}D) "
             f"* {size!r}D + {offset!r}D)")
        return (f"CASE WHEN {b} = CAST({b} AS BIGINT) THEN "
                f"CAST(CAST({b} AS BIGINT) AS STRING) "
                f"ELSE CAST({b} AS STRING) END")
    if t == "stringFormat":
        # StringFormatExtractionFn nullHandling: NULLSTRING (default)
        # formats a null input as the string 'null' (Java
        # String.format semantics — Spark's format_string matches);
        # EMPTYSTRING formats it as ''; RETURNNULL yields null
        if not spec.get("format"):
            # StringFormatExtractionFn ctor contract
            # (StringFormatExtractionFnTest.testInvalidOption1)
            raise ValueError("format string should not be empty")
        fmt = spark_str(spec["format"])
        nh = (spec.get("nullHandling") or "NULLSTRING").upper()
        if nh == "RETURNNULL":
            return (f"CASE WHEN {sql} IS NOT NULL "
                    f"THEN format_string({fmt}, {sql}) END")
        if nh == "EMPTYSTRING":
            return f"format_string({fmt}, coalesce({s}, ''))"
        return f"format_string({fmt}, {sql})"
    if t == "cascade":
        out = sql
        for sub in spec["extractionFns"]:
            out = compile_extraction_fn(sub, out, registry)
        return out
    if t in ("lookup", "registeredLookup"):
        if t == "lookup" and "lookup" in spec and isinstance(spec["lookup"], dict):
            # inline map lookup; MapLookupExtractor.apply: map.get ->
            # null for a null-VALUED key exactly like a missing key, so
            # the pair is omitted
            out = map_value({str(k): str(v) for k, v in
                             spec["lookup"].get("map", {}).items()
                             if v is not None}, s)
        else:
            if registry is None:
                raise ValueError("registered lookup requires DatasourceRegistry")
            name = spec.get("lookup") or spec.get("name")
            out = lookup_sql(sql, name, registry)
        if spec.get("retainMissingValue", False):
            return f"coalesce({out}, {s})"
        if spec.get("replaceMissingValueWith") is not None:
            return f"coalesce({out}, {_lit(spec['replaceMissingValueWith'])})"
        return out
    if t == "searchQuery":
        # SearchQuerySpecDimExtractionFn: keep the value when the
        # search spec accepts it, else null; fragment specs require
        # EVERY fragment (FragmentSearchQuerySpec, default
        # case-insensitive)
        q = spec["query"]
        qt = q.get("type", "contains")
        if qt == "fragment":
            cs = q.get("caseSensitive", False)
            probe = s if cs else f"lower({s})"
            cond = " AND ".join(
                f"contains({probe}, {spark_str(f if cs else f.lower())})"
                for f in q.get("values", [])) or "true"
            return f"CASE WHEN {cond} THEN {s} END"
        needle = q.get("value", "")
        if q.get("caseSensitive", False) and qt != "insensitive_contains":
            return f"CASE WHEN contains({s}, {spark_str(needle)}) THEN {s} END"
        return (f"CASE WHEN contains(lower({s}), "
                f"{spark_str(needle.lower())}) THEN {s} END")
    if t == "javascript":
        raise NotImplementedError("javascript extraction fns unsupported; "
                                  "use expression virtual columns")
    raise ValueError(f"unknown extractionFn type: {t!r}")


def compile_dimension_spec(spec, registry=None, df=None) -> tuple[str, Column]:
    """DimensionSpec JSON (or bare string) -> (outputName, Column).
    ``df`` (optional) resolves source column types so LONG-typed
    dimension specs over timestamp columns yield epoch MILLIS."""
    if isinstance(spec, str):
        # the bare-string shorthand deserializes to the identical
        # DefaultDimensionSpec with STRING output
        # (DimensionSpec via DefaultDimensionSpec.of) — normalize so
        # the numeric->string default applies uniformly
        spec = {"type": "default", "dimension": spec}
    t = spec.get("type", "default")
    dim = spec.get("dimension")
    out_name = spec.get("outputName", dim)
    out_type = spec.get("outputType")

    if t == "default":
        c = fcol(dim)
        if df is not None and dim in df.columns:
            dt = df.schema[dim].dataType
            if isinstance(dt, T.BinaryType):
                # a COMPLEX (sketch-state) column is not a groupable
                # dimension — it reads as NULL
                # (GroupByQueryRunnerTest.testGroupByComplexColumn)
                c = F.lit(None).cast("string")
            elif out_type is None and isinstance(
                    dt, (T.LongType, T.IntegerType, T.ShortType,
                         T.ByteType, T.FloatType, T.DoubleType,
                         T.DecimalType)):
                # DefaultDimensionSpec's output type defaults to
                # STRING (DefaultDimensionSpec.java single-arg ctor),
                # so a numeric column through an untyped spec renders
                # its decimal string — TopNQueryRunnerTest
                # testFullOnTopNLongColumnAsString pins "1400",
                # testFullOnTopNFloatColumnAsString pins "14000.0";
                # Spark's numeric->string cast matches Druid's
                # String.valueOf rendering for longs and floats
                c = c.cast("string")
    elif t == "extraction":
        src_type = (df.schema[dim].dataType
                    if df is not None and dim in df.columns else None)
        if isinstance(src_type, T.ArrayType):
            # extraction over a multi-value input applies PER ELEMENT
            # (the extracted values then explode/group like any MV dim
            # — GroupByQueryRunnerTest
            # testExtractionStringSpecWithMultiValueVirtualDimAsInput:
            # substring(1,1) over mv_to_array(placementish) groups
            # null and 'r'); the outputType cast also applies per
            # element — the generic tail cast would stringify the
            # whole array
            fn = compile_extraction_fn(spec["extractionFn"], "__x", registry,
                                       src_type=src_type.elementType)
            if out_type and out_type.upper() in _DRUID_OUT_TYPES:
                fn = f"CAST({fn} AS {_DRUID_OUT_TYPES[out_type.upper()]})"
            c = F.expr(f"transform({ident(dim)}, __x -> {fn})")
            out_type = None  # consumed per element
        else:
            c = F.expr(compile_extraction_fn(spec["extractionFn"], ident(dim),
                                             registry, src_type=src_type))
    elif t in ("listFiltered", "regexFiltered", "prefixFiltered"):
        # Decorations accept either the flat {"dimension": ...} form or
        # the reference's {"delegate": <spec|name>} form
        # (ListFilteredDimensionSpec.java); they apply to MV columns
        # per-element and to scalar columns per-value (a disallowed
        # scalar yields an EMPTY value set — in topN such rows
        # contribute to no bucket, testFullOnTopNDecorationOnNumeric).
        delegate = spec.get("delegate", dim)
        if isinstance(delegate, str):
            d_name, c = compile_dimension_spec(delegate, registry, df)
            src, d_out = delegate, None
        else:
            # the decoration matches the SOURCE string form BEFORE the
            # delegate's output-type conversion (the filtered selector
            # wraps the string DimensionSelector;
            # testGroupByNumericStringsAsNumericWithDecoration
            # whitelists "170000" against the stored string, then
            # converts survivors to FLOAT) — so compile the delegate
            # untyped and apply its cast after filtering
            d_out = delegate.get("outputType")
            inner_spec = {k: v for k, v in delegate.items()
                          if k != "outputType"}
            d_name, c = compile_dimension_spec(inner_spec, registry, df)
            src = delegate.get("dimension")
        out_name = spec.get("outputName") or out_name or d_name
        is_mv = (df is not None and src in df.columns and isinstance(
            df.schema[src].dataType, T.ArrayType))
        if t == "listFiltered":
            # match on the STRING form: the whitelist is a string set
            # regardless of the delegate's output type. Null values are
            # predicate-evaluated, not silently dropped: the deny-list
            # predicate is !values.contains(input), so a null the list
            # doesn't name survives (ListFilteredDimensionSpec.java:148
            # filterDenyList), while the allow-list's Predicates.in
            # rejects null — coalesce pins the SQL-null fallthrough to
            # those outcomes
            allow = F.array(*[F.lit(str(v))
                              for v in spec.get("values", [])])
            white = spec.get("isWhitelist", True)
            if white:
                pred = lambda e: F.coalesce(  # noqa: E731
                    F.array_contains(allow, e.cast("string")),
                    F.lit(False))
            else:
                pred = lambda e: F.coalesce(  # noqa: E731
                    ~F.array_contains(allow, e.cast("string")),
                    F.lit(True))
        elif t == "regexFiltered":
            # FULL match — RegexFilteredDimensionSpec.java uses
            # Matcher.matches(), not find(); null never matches (:74
            # `val != null && ...`)
            pat = f"^(?:{spec['pattern']})$"
            pred = lambda e: F.coalesce(  # noqa: E731
                e.cast("string").rlike(pat), F.lit(False))
        else:
            # null never matches (PrefixFilteredDimensionSpec.java:70)
            pfx = spec["prefix"]
            pred = lambda e: F.coalesce(  # noqa: E731
                e.cast("string").startswith(pfx), F.lit(False))
        if is_mv:
            c = F.filter(c, pred)
        else:
            # slice(array(c), 1, 0) is the EMPTY array of c's exact
            # element type — when() branches then unify cleanly
            c = F.when(pred(c), F.array(c)).otherwise(
                F.slice(F.array(c), F.lit(1), F.lit(0)))
        if d_out and d_out.upper() in _DRUID_OUT_TYPES:
            target = _DRUID_OUT_TYPES[d_out.upper()]
            c = F.transform(c, lambda e: e.cast(target))
    elif t == "lookup":
        c = F.expr(compile_extraction_fn(
            {"type": "lookup", "lookup": spec.get("lookup"),
             "name": spec.get("name"),
             "retainMissingValue": spec.get("retainMissingValue", False),
             "replaceMissingValueWith": spec.get("replaceMissingValueWith")},
            ident(dim), registry))
    else:
        raise ValueError(f"unknown dimension spec type: {t!r}")

    if out_type and out_type.upper() in _DRUID_OUT_TYPES:
        target = _DRUID_OUT_TYPES[out_type.upper()]
        src_is_ts = False
        if t == "default":
            if dim == "__time":
                src_is_ts = True
            elif df is not None and dim in df.columns:
                from pyspark.sql import types as _T
                src_is_ts = isinstance(
                    df.schema[dim].dataType,
                    (_T.TimestampType, _T.TimestampNTZType))
        if target == "long" and src_is_ts:
            # Druid time values ARE epoch-millis longs, so a LONG-typed
            # dimension over a timestamp column yields millis
            # (GroupByQueryRunnerTest.testGroupByNumericStringsAsNumeric
            # pins time_alias2 = 1301616000000); Spark's
            # timestamp->long cast would yield seconds
            c = F.unix_millis(fcol(dim))
        else:
            c = c.cast(target)
    return out_name, c
