"""DimensionSpecs and extraction functions.

Reference: processing/src/main/java/org/apache/druid/query/dimension/
{Default,Extraction,ListFiltered,RegexFiltered,PrefixFiltered,Lookup}DimensionSpec.java
and processing/src/main/java/org/apache/druid/query/extraction/*.java
(17 extraction fns).

Each compiles to a Column expression over the input dimension; for
multi-value (array) dimensions the filtered specs compile to
``F.filter`` element-whitelists so the later explode sees only kept
elements, matching Druid's behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_druid_spark.operators.util import fcol

_DRUID_OUT_TYPES = {"STRING": "string", "LONG": "long", "FLOAT": "float",
                    "DOUBLE": "double"}


def _map_literal(m: dict) -> Column:
    """A string -> string map literal (NULL when empty): a lookup shipped
    with the plan, the analogue of Druid's broadcast lookup container."""
    if not m:
        return F.lit(None).cast("map<string,string>")
    return F.create_map(*[F.lit(x) for kv in m.items() for x in kv])


def compile_extraction_fn(spec: dict, col: Column, registry=None,
                          src_type=None) -> Column:
    """Extraction fn JSON -> Column transform of a (scalar) value.
    ``src_type`` (optional Spark DataType) disambiguates time inputs:
    a LONG source feeding timeFormat is epoch MILLIS (Druid time
    values are millis longs; Spark's long->timestamp cast would read
    seconds)."""
    t = spec["type"]
    if t == "identity":
        return col
    if t == "regex":
        # RegexDimExtractionFn: matcher.find() semantics; an EMPTY
        # group on a successful match stays '' — only a true no-match
        # falls back to the replacement (or the original value)
        # (RegexDimExtractionFnTest.testNullAndEmpty: '(.*)/.*/.*'
        # applied to '/a/b' is '', not '/a/b')
        expr = spec["expr"]
        idx = int(spec.get("index", 1))
        s = col.cast("string")
        matched = s.rlike(expr)
        ext = F.regexp_extract(s, expr, idx)
        if spec.get("replaceMissingValue", False):
            miss = spec.get("replaceMissingValueWith")
            # a null input is a miss too (apply(null) -> replacement)
            return F.when(matched, ext).otherwise(F.lit(miss))
        return F.when(matched, ext).otherwise(s)
    if t == "partial":  # keep value only if regex matches
        return F.when(col.cast("string").rlike(spec["expr"]), col.cast("string"))
    if t == "substring":
        index = int(spec.get("index", 0))
        length = spec.get("length")
        if length is not None and int(length) <= 0:
            # SubstringDimExtractionFn ctor contract
            # (SubstringDimExtractionFnTest.testZeroLength)
            raise ValueError(
                f"substring length[{length}] must be strictly positive")
        if length is None:
            return F.when(F.length(col.cast("string")) > index,
                          F.substring(col.cast("string"), index + 1, 2147483647))
        return F.when(F.length(col.cast("string")) > index,
                      F.substring(col.cast("string"), index + 1, int(length)))
    if t == "strlen":
        return F.length(col.cast("string")).cast("string")
    if t == "timeFormat":
        fmt = spec.get("format")
        tz = spec.get("timeZone")
        gran = spec.get("granularity")
        if src_type is not None and isinstance(src_type, T.LongType):
            c = F.timestamp_millis(col)  # millis long, not seconds
        else:
            c = col.cast("timestamp")
        if gran:
            from apache_druid_spark.model.granularity import time_floor_col
            c = time_floor_col(c, gran, tz)
        if spec.get("asMillis") and fmt is None:
            # TimeFormatExtractionFn(asMillis=true, format=null):
            # the (granularity-floored) instant as epoch millis
            # (testGroupByNestedDoubleTimeExtractionFnWithLongOutputTypes)
            return F.unix_millis(c)
        fmt = fmt or "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
        if tz and tz.upper() != "UTC":
            c = F.from_utc_timestamp(c, tz)
        return F.date_format(c, fmt)
    if t == "time":  # parse with timeFormat then reformat with resultFormat
        tf, rf = spec.get("timeFormat"), spec.get("resultFormat")
        parsed = F.to_timestamp(col.cast("string"), tf) if tf else col.cast("timestamp")
        out = F.date_format(parsed, rf) if rf else parsed.cast("string")
        # TimeDimExtractionFn.apply returns the ORIGINAL value when the
        # parse misses, and null only for a null input
        # (SelectorFilterTest.testWithTimeExtractionFnNull: a null
        # selector over extracted dim0 matches nothing — "0" fails to
        # parse but extracts to "0", not null)
        return F.coalesce(out, col.cast("string"))
    if t == "upper":
        return F.upper(col.cast("string"))
    if t == "lower":
        return F.lower(col.cast("string"))
    if t == "bucket":
        # BucketExtractionFn.bucket renders integral buckets WITHOUT a
        # decimal point ('2', not '2.0') and unparseable inputs as null
        # (BucketExtractionFnTest.testApply)
        size = float(spec.get("size", 1))
        offset = float(spec.get("offset", 0))
        v = col.cast("double")
        b = F.floor((v - offset) / size) * size + offset
        return F.when(b == b.cast("long"), b.cast("long").cast("string")
                      ).otherwise(b.cast("string"))
    if t == "stringFormat":
        # StringFormatExtractionFn nullHandling: NULLSTRING (default)
        # formats a null input as the string 'null' (Java
        # String.format semantics — Spark's format_string matches);
        # EMPTYSTRING formats it as ''; RETURNNULL yields null
        if not spec.get("format"):
            # StringFormatExtractionFn ctor contract
            # (StringFormatExtractionFnTest.testInvalidOption1)
            raise ValueError("format string should not be empty")
        nh = (spec.get("nullHandling") or "NULLSTRING").upper()
        if nh == "RETURNNULL":
            return F.when(col.isNotNull(),
                          F.format_string(spec["format"], col))
        if nh == "EMPTYSTRING":
            return F.format_string(
                spec["format"], F.coalesce(col.cast("string"), F.lit("")))
        return F.format_string(spec["format"], col)
    if t == "cascade":
        out = col
        for sub in spec["extractionFns"]:
            out = compile_extraction_fn(sub, out, registry)
        return out
    if t in ("lookup", "registeredLookup"):
        if t == "lookup" and "lookup" in spec and isinstance(spec["lookup"], dict):
            # inline map lookup; MapLookupExtractor.apply: map.get ->
            # null for a null-VALUED key exactly like a missing key, so
            # the pair is omitted
            mexpr = _map_literal({str(k): str(v) for k, v in
                                spec["lookup"].get("map", {}).items()
                                if v is not None})
        else:
            name = spec.get("lookup") or spec.get("name")
            if registry is None:
                raise ValueError("registered lookup requires DatasourceRegistry")
            mexpr = _map_literal(registry.lookup_map(name))
        out = F.element_at(mexpr, col.cast("string"))
        if spec.get("retainMissingValue", False):
            out = F.coalesce(out, col.cast("string"))
        elif spec.get("replaceMissingValueWith") is not None:
            out = F.coalesce(out, F.lit(spec["replaceMissingValueWith"]))
        return out
    if t == "searchQuery":
        # SearchQuerySpecDimExtractionFn: keep the value when the
        # search spec accepts it, else null; fragment specs require
        # EVERY fragment (FragmentSearchQuerySpec, default
        # case-insensitive)
        q = spec["query"]
        qt = q.get("type", "contains")
        s = col.cast("string")
        if qt == "fragment":
            cs = q.get("caseSensitive", False)
            probe = s if cs else F.lower(s)
            cond = F.lit(True)
            for frag in q.get("values", []):
                cond = cond & F.contains(
                    probe, F.lit(frag if cs else frag.lower()))
            return F.when(cond, s)
        needle = q.get("value", "")
        if q.get("caseSensitive", False) and qt != "insensitive_contains":
            return F.when(F.contains(s, F.lit(needle)), s)
        return F.when(F.contains(F.lower(s), F.lit(needle.lower())), s)
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
            exfn = spec["extractionFn"]
            elem_target = (_DRUID_OUT_TYPES.get(out_type.upper())
                           if out_type
                           and out_type.upper() in _DRUID_OUT_TYPES
                           else None)
            c = F.transform(
                fcol(dim),
                lambda e: (lambda r: r.cast(elem_target)
                           if elem_target else r)(
                    compile_extraction_fn(
                        exfn, e, registry,
                        src_type=src_type.elementType)))
            out_type = None  # consumed per element
        else:
            c = compile_extraction_fn(spec["extractionFn"], fcol(dim),
                                      registry, src_type=src_type)
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
        c = compile_extraction_fn(
            {"type": "lookup", "lookup": spec.get("lookup"),
             "name": spec.get("name"),
             "retainMissingValue": spec.get("retainMissingValue", False),
             "replaceMissingValueWith": spec.get("replaceMissingValueWith")},
            fcol(dim), registry)
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
