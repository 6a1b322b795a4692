"""Batch ingestion with Druid ingestion-spec semantics.

Reference pipeline: InputSource/InputFormat (core/src/main/java/org/
apache/druid/data/input/impl/*.java) -> TimestampSpec
(core/.../data/input/impl/TimestampSpec.java) -> TransformSpec
(processing/src/main/java/org/apache/druid/segment/transform/
TransformSpec.java) -> optional ingest-time rollup
(processing/.../segment/incremental/IncrementalIndexSchema.java:42,95)
-> segment persist+publish (server/.../appenderator/AppenderatorImpl.java).

Spark shape: every step is a DataFrame transformation, the "segment
publish" is an atomic parquet/Delta write partitioned by the segment
granularity bucket, and the rollup groupBy is Spark's partial/final
hash aggregate — the OnheapIncrementalIndex's per-sink aggregation
buffer generalized across executors.

Rollup invariant (the §7 "hard part"): a `count` metric counts RAW
rows, so re-aggregating a rolled-up table must SUM it; every other
standard metric re-aggregates with its own combining function
(AggregatorFactory.getCombiningFactory semantics) — ``reaggregate``
builds exactly those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types

from apache_druid_spark.model.datasource import TIME_COLUMN
from apache_druid_spark.model.granularity import time_floor_col
from apache_druid_spark.operators.aggregations import compile_aggregations
from apache_druid_spark.operators.expressions import compile_expression
from apache_druid_spark.operators.filters import compile_filter
from apache_druid_spark.operators.util import ident

# ---------------------------------------------------------------------------
# Input sources / formats (SURVEY §2.1)
# ---------------------------------------------------------------------------

_FORMAT_READERS = {
    "csv": "csv", "tsv": "csv", "json": "json", "parquet": "parquet",
    "orc": "orc", "avro": "avro",
}


def read_input(spark: SparkSession, io_config: dict) -> DataFrame:
    """inputSource + inputFormat -> DataFrame.

    local/http map onto Spark's file readers (Hadoop FS handles http(s)
    only via mounted connectors — pre-fetching is the documented path);
    inline materializes literal data; sql uses spark.read.jdbc.
    """
    src = io_config.get("inputSource", {})
    fmt = io_config.get("inputFormat", {"type": "parquet"})
    stype = src.get("type", "local")

    if stype == "inline":
        return _read_inline(spark, src, fmt)
    if stype in ("local", "hdfs", "s3", "google", "azure", "http"):
        if stype == "http":
            paths = _fetch_http(spark, src)
        else:
            paths = (src.get("uris") or src.get("files")
                     or [src.get("baseDir", ".")])
        if fmt.get("type") == "protobuf":
            if "fields" in fmt:  # jar-free pure wire-format decoder
                from apache_druid_spark.ingest.protobuf import read_protobuf

                return read_protobuf(spark, paths,
                                     [tuple(f) for f in fmt["fields"]])
            raw = spark.read.format("binaryFile").load(paths)
            return decode_protobuf(raw, fmt, value_col="content")
        if fmt.get("type") == "thrift":
            from apache_druid_spark.ingest.thrift import (
                read_thrift, read_thrift_sequence,
            )

            tf = [tuple(f) for f in fmt["fields"]]
            if fmt.get("container") in ("sequence", "sequenceFile"):
                return read_thrift_sequence(spark, paths, tf)
            return read_thrift(spark, paths, tf)
        return _file_reader(spark, fmt).load(paths)
    if stype == "druid":
        return _read_druid_segments(spark, src)
    if stype == "combining":
        dfs = [read_input(spark, {"inputSource": d, "inputFormat": fmt})
               for d in src["delegates"]]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    if stype == "sql":
        uri = src["connectorConfig"]["connectURI"]
        reader = spark.read.format("jdbc").option("url", uri)
        return reader.option("query", src["sqls"][0]).load()
    raise ValueError(f"unknown inputSource type: {stype!r}")


def _fetch_http(spark: SparkSession, src: dict) -> list[str]:
    """HttpInputSource analogue (reference:
    processing/src/main/java/org/apache/druid/data/input/impl/
    HttpInputSource.java): fetch each URI to a staging file, then hand
    the staged paths to the ordinary file reader. Basic auth via
    httpAuthenticationUsername/Password mirrors the reference's spec
    keys. Fetches run in a thread pool — the reference also pulls on
    the task, not in the query path.

    Staging location: ``spark.druid.http.stagingDir`` (a shared
    filesystem every executor can read — required on a real cluster),
    falling back to a driver-local tempdir ONLY in local mode, where
    driver and executors share a filesystem. Local staging dirs are
    removed at interpreter exit (after all lazy reads have run)."""
    import base64
    import os
    import urllib.request
    import uuid
    from concurrent.futures import ThreadPoolExecutor
    from urllib.parse import urlparse

    from apache_druid_spark.session import scratch_dir

    uris = src.get("uris") or []
    if not uris:
        raise ValueError("http inputSource requires 'uris'")
    user = src.get("httpAuthenticationUsername")
    pw = src.get("httpAuthenticationPassword")
    shared = spark.conf.get("spark.druid.http.stagingDir", None)
    if shared:
        staging = os.path.join(shared, f"http_ingest_{uuid.uuid4().hex}")
        os.makedirs(staging, exist_ok=True)
    else:
        master = spark.conf.get("spark.master", "local")
        if not master.startswith("local"):
            raise ValueError(
                "http inputSource on a non-local master needs "
                "spark.druid.http.stagingDir pointing at shared storage "
                "(executors cannot read driver-local staging files)")
        staging = scratch_dir("http_ingest_")

    def fetch(iu):
        i, uri = iu
        if urlparse(uri).scheme not in ("http", "https"):
            raise ValueError(f"http inputSource got non-http uri: {uri!r}")
        req = urllib.request.Request(uri)
        if user is not None:
            token = base64.b64encode(
                f"{user}:{pw or ''}".encode()).decode()
            req.add_header("Authorization", f"Basic {token}")
        name = urlparse(uri).path.rsplit("/", 1)[-1] or "part"
        out = f"{staging}/{i:05d}-{name}"
        with urllib.request.urlopen(req, timeout=60) as r, \
                open(out, "wb") as f:
            while True:
                chunk = r.read(1 << 20)
                if not chunk:
                    break
                f.write(chunk)
        return out

    with ThreadPoolExecutor(max_workers=min(8, len(uris))) as pool:
        return list(pool.map(fetch, enumerate(uris)))


def _file_reader(spark: SparkSession, fmt: dict):
    ftype = fmt.get("type", "parquet")
    if ftype == "regex":
        raise ValueError("regex format: read as text + regexp_extract "
                         "(use parse_regex)")
    reader = spark.read.format(_FORMAT_READERS.get(ftype, ftype))
    if ftype in ("csv", "tsv"):
        reader = reader.option("header", str(fmt.get("findColumnsFromHeader",
                                                     False)).lower())
        delim = fmt.get("delimiter", "\t" if ftype == "tsv" else ",")
        reader = reader.option("sep", delim)
        if fmt.get("columns"):
            reader = reader.schema(" string, ".join(fmt["columns"]) + " string")
    return reader


def _read_druid_segments(spark: SparkSession, src: dict) -> DataFrame:
    """The reference's ``{"type": "druid"}`` input source —
    RE-INGESTION from existing segments
    (indexing-service/.../input/DruidInputSource.java:150: dataSource,
    interval, segments, filter, dimensions, metrics). There is no
    coordinator/metadata store here, so segments resolve from PATHS:

      {"type": "druid",
       "segments": ["/store/seg1", "/store/seg2.zip"],   # explicit
       "baseDir": "/store/datasource",    # or: scan for containers
       "interval": "2014-01-01/2015-01-01",              # optional
       "filter": {<any DimFilter>},                      # optional
       "dimensions": [...], "metrics": [...]}            # projection

    Each container is a v9 smoosh dir or deep-storage index.zip
    (ingest/segment.py — one segment per task). interval filters
    ``__time`` with the reference's half-open semantics; filter runs
    through the engine's full DimFilter compiler; dimensions+metrics
    prune columns (``__time`` always kept, like the reference)."""
    import os

    from apache_druid_spark.ingest.segment import (
        DruidSegmentError, scan_segments,
    )

    paths = list(src.get("segments") or [])
    base = src.get("baseDir")
    if base:
        for name in sorted(os.listdir(base)):
            p = os.path.join(base, name)
            # v9 dirs carry version.bin; LEGACY v8 dirs do not (the
            # version byte lives in index.drd) — meta.smoosh is the
            # marker both layouts share
            if name.endswith(".zip") or os.path.exists(
                    os.path.join(p, "version.bin")) or os.path.exists(
                    os.path.join(p, "meta.smoosh")):
                paths.append(p)
    if not paths:
        raise DruidSegmentError(
            'druid inputSource needs "segments" (container paths) or '
            'a "baseDir" holding segment dirs / index.zips — there is '
            "no coordinator to resolve a dataSource name against")
    # a container named in "segments" AND discovered under "baseDir"
    # must not be ingested twice (doubled rows, silently wrong sums);
    # realpath, not abspath, so a symlink and its target dedupe too
    paths = list(dict.fromkeys(os.path.realpath(p) for p in paths))
    # pushdown: the indexable part of the DimFilter becomes a
    # per-container bitmap row mask, the interval becomes a
    # contiguous row range over the time-sorted container, and a
    # dimensions/metrics projection stops unlisted columns from ever
    # deserializing — all BEFORE chunk decode (superset-safe: the
    # exact compile_filter / interval_predicate below still apply).
    # The decode set must also cover filter-REFERENCED dims: the
    # filter evaluates before the projection.
    dims, mets = src.get("dimensions"), src.get("metrics")
    decode_cols = None
    if dims is not None or mets is not None:
        import re as _re

        decode_cols = set((dims or []) + (mets or []))
        word = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

        def _filter_dims(f):
            # every column-referencing shape a DimFilter can take:
            # "dimension" (selector/bound/like/regex/search/spatial/
            # bloom/interval), "dimensions" (columnComparison — bare
            # strings or DimensionSpec dicts), and "expression"
            # (identifier tokens, over-approximated — decoding an
            # extra column is harmless, SKIPPING a referenced one
            # silently nulls it, r17 review #1)
            if isinstance(f, dict):
                for k, v in f.items():
                    if k == "dimension" and isinstance(v, str):
                        decode_cols.add(v)
                    elif k == "dimensions" and isinstance(v, list):
                        for x in v:
                            if isinstance(x, str):
                                decode_cols.add(x)
                            elif isinstance(x, dict):
                                _filter_dims(x)
                    elif k == "expression" and isinstance(v, str):
                        decode_cols.update(word.findall(v))
                    else:
                        _filter_dims(v)
            elif isinstance(f, list):
                for v in f:
                    _filter_dims(v)

        _filter_dims(src.get("filter"))
    df = scan_segments(spark, paths, dim_filter=src.get("filter"),
                       interval=src.get("interval"),
                       columns=decode_cols)
    interval = src.get("interval")
    if interval:
        from apache_druid_spark.operators.filters import (
            interval_predicate,
        )

        df = df.filter(interval_predicate(F.col("__time"), [interval]))
    if src.get("filter"):
        from apache_druid_spark.operators.filters import compile_filter

        df = df.filter(compile_filter(src["filter"], df))
    dims, mets = src.get("dimensions"), src.get("metrics")
    if dims is not None or mets is not None:
        keep = ["__time"] + [c for c in (dims or []) + (mets or [])
                             if c in df.columns]
        df = df.select(*dict.fromkeys(keep))
    return df


def _read_inline(spark: SparkSession, src: dict, fmt: dict) -> DataFrame:
    data: str = src.get("data", "")
    ftype = fmt.get("type", "csv")
    lines = [ln for ln in data.splitlines() if ln.strip()]
    if ftype == "json":
        # spark.read.json gives proper struct inference for nested docs
        return spark.read.json(spark.sparkContext.parallelize(lines))
    if ftype in ("csv", "tsv"):
        delim = fmt.get("delimiter", "\t" if ftype == "tsv" else ",")
        cols = fmt.get("columns")
        start = 0
        if fmt.get("findColumnsFromHeader") and lines:
            cols = lines[0].split(delim)
            start = 1
        rows = [ln.split(delim) for ln in lines[start:]]
        return spark.createDataFrame(
            rows, schema=" string, ".join(cols) + " string")
    raise ValueError(f"inline inputFormat {ftype!r} unsupported")


def decode_protobuf(df: DataFrame, fmt: dict,
                    value_col: str = "value") -> DataFrame:
    """Protobuf inputFormat (extensions-core/protobuf-extensions
    ProtobufInputFormat + FileBasedProtobufBytesDecoder): decode a
    binary column into top-level fields via spark-protobuf's
    `from_protobuf` (JVM-side, vectorized — not a Python UDF).

    Spec shape: {"type": "protobuf", "protoBytesDecoder": {"type":
    "file", "descriptor": <path>, "protoMessageType": <name>}}.
    Requires the org.apache.spark:spark-protobuf runtime jar (not
    bundled in this rig) — absence surfaces as a clear error here
    rather than an opaque analysis failure."""
    dec = fmt.get("protoBytesDecoder", {})
    desc, msg = dec.get("descriptor"), dec.get("protoMessageType")
    if not desc or not msg:
        raise ValueError("protobuf inputFormat needs protoBytesDecoder "
                         "with 'descriptor' and 'protoMessageType'")
    from pyspark.sql.protobuf.functions import from_protobuf
    try:
        decoded = df.withColumn(
            "__proto__", from_protobuf(value_col, msg, descFilePath=desc))
        return decoded.select("__proto__.*")
    except Exception as e:  # jar missing → actionable message
        raise NotImplementedError(
            "protobuf decode needs the org.apache.spark:spark-protobuf "
            "jar on the cluster (--packages org.apache.spark:spark-"
            f"protobuf_2.13:<spark-version>); underlying error: {e}"
        ) from e


def apply_flatten_spec(df: DataFrame, flatten_spec: dict | None) -> DataFrame:
    """JSON flattenSpec (core/.../data/input/impl/JsonInputFormat.java +
    core/.../parsers/JSONPathSpec.java): extract nested fields as
    top-level columns.

    `path` fields take a JSONPath subset ($.a.b[0].c) compiled to
    struct/array access on the parsed document — Catalyst expressions,
    not per-row JSON re-parsing. `root` fields reference top-level
    keys."""
    if not flatten_spec:
        return df
    for field in flatten_spec.get("fields", []) or []:
        ftype = field.get("type", "root")
        name = field["name"]
        if ftype == "root":
            df = df.withColumn(name, F.col(field.get("expr", name)))
        elif ftype == "path":
            df = df.withColumn(name, _jsonpath_col(field["expr"]))
        elif ftype == "jq":
            df = df.withColumn(name, _jsonpath_col(_jq_to_jsonpath(
                field["expr"])))
        else:
            raise NotImplementedError(f"flattenSpec field type {ftype!r}")
    return df


def _jq_to_jsonpath(expr: str) -> str:
    """The jq path subset Druid docs use for flattenSpecs (`.a.b[0]`,
    pipe chains of such paths) -> the JSONPath subset above. jackson-jq
    programs beyond pure navigation (functions, arithmetic) are out of
    scope — the reference escape hatch is a transformSpec expression."""
    import re as _re

    parts = [p.strip() for p in expr.split("|")]
    out = "$"
    for p in parts:
        if p in (".", ""):
            continue
        if not _re.fullmatch(r"(\.[A-Za-z_][\w]*(\[\d+\])?)+|\.\[\d+\]", p):
            raise NotImplementedError(
                f"jq flattenSpec supports path navigation only: {p!r}")
        out += p[1:] if p.startswith(".[") else p
    if out == "$":
        raise ValueError(f"empty jq path: {expr!r}")
    return out


def _jsonpath_col(expr: str) -> Column:
    """$.a.b[0].c -> nested struct/array access Column."""
    if not expr.startswith("$"):
        raise ValueError(f"JSONPath must start with $: {expr!r}")
    import re as _re

    col: Column | None = None
    for part in _re.findall(r"\.([A-Za-z_][\w]*)|\[(\d+)\]", expr):
        key, idx = part
        if key:
            col = F.col(key) if col is None else col.getField(key)
        else:
            if col is None:
                raise ValueError(f"JSONPath cannot start with index: {expr!r}")
            col = col.getItem(int(idx))
    if col is None:
        raise ValueError(f"empty JSONPath: {expr!r}")
    return col


def parse_regex(spark: SparkSession, path: str, pattern: str,
                columns: list[str]) -> DataFrame:
    """RegexInputFormat (core/.../data/input/impl/RegexInputFormat.java):
    text source + one regexp_extract per capture group."""
    df = spark.read.text(path)
    return df.select(*[
        F.regexp_extract(F.col("value"), pattern, i + 1).alias(c)
        for i, c in enumerate(columns)
    ])


# ---------------------------------------------------------------------------
# TimestampSpec / TransformSpec
# ---------------------------------------------------------------------------

def apply_timestamp_spec(df: DataFrame, spec: dict | None) -> DataFrame:
    """TimestampSpec (core/.../data/input/impl/TimestampSpec.java):
    column + format in {iso, millis, posix, auto, <java format>}."""
    spec = spec or {}
    col = spec.get("column", "timestamp")
    fmt = spec.get("format", "auto")
    c: Column = F.col(col)
    # Lenient on already-parsed time columns (Druid's TimestampSpec is
    # forgiving the same way for non-string inputs): if the source read
    # the column as a timestamp — e.g. parquet TIMESTAMP(MICROS), which
    # arrives as TIMESTAMP_NTZ when isAdjustedToUTC=false — a declared
    # numeric format like "nano" must not reinterpret it (casting a
    # timestamp to long yields SECONDS in Spark: silent 1e9x offset).
    try:
        from pyspark.sql import types as T

        if isinstance(df.schema[col].dataType,
                      (T.TimestampType, T.TimestampNTZType)):
            ts = c.cast("timestamp")
            missing = spec.get("missingValue")
            if missing is not None:
                ts = F.coalesce(ts, F.lit(missing).cast("timestamp"))
            return df.withColumn(TIME_COLUMN, ts)
    except KeyError:
        pass
    if fmt in ("iso", "auto"):
        ts = F.coalesce(F.to_timestamp(c), F.to_timestamp(c.cast("string")))
    elif fmt == "millis":
        ts = F.timestamp_millis(c.cast("long"))
    elif fmt == "posix":
        ts = F.timestamp_seconds(c.cast("long"))
    elif fmt == "micro":
        ts = F.timestamp_micros(c.cast("long"))
    elif fmt == "nano":
        ts = F.timestamp_micros(F.expr(f"CAST(`{col}` AS LONG) div 1000"))
    else:
        ts = F.to_timestamp(c.cast("string"), fmt)
    missing = spec.get("missingValue")
    if missing is not None:
        ts = F.coalesce(ts, F.lit(missing).cast("timestamp"))
    return df.withColumn(TIME_COLUMN, ts)


def apply_transform_spec(df: DataFrame, spec: dict | None,
                         registry=None) -> DataFrame:
    """TransformSpec (processing/.../segment/transform/TransformSpec.java):
    named expression transforms (see themselves like virtual columns)
    then a row filter."""
    if not spec:
        return df
    for tr in spec.get("transforms", []) or []:
        df = df.withColumn(tr["name"],
                           compile_expression(tr["expression"], registry))
    flt = spec.get("filter")
    if flt is not None:
        df = df.filter(compile_filter(flt, df, registry))
    return df


# ---------------------------------------------------------------------------
# Rollup
# ---------------------------------------------------------------------------

_FIRST_LAST_TYPES = {
    "longFirst": "first", "doubleFirst": "first", "floatFirst": "first",
    "stringFirst": "first", "longLast": "last", "doubleLast": "last",
    "floatLast": "last", "stringLast": "last",
}

# Sketch metrics whose ROLLED-UP state must stay mergeable: the
# reference stores HLL state as a COMPLEX column and merges it across
# segments (extensions-core/datasketches/.../hll/HllSketchBuild
# AggregatorFactory.java, processing/.../serde/ComplexMetrics.java).
# Spark's hll_sketch_agg/hll_union_agg use the same Apache DataSketches
# HLL format, so the state is a plain binary column — no UDFs.
_HLL_SKETCH_TYPES = {"HLLSketchBuild", "HLLSketchMerge", "hyperUnique"}
_DEFAULT_LGK = 12  # HllSketchAggregatorFactory.DEFAULT_LG_K

# Theta sketch state (extensions-core/datasketches/.../theta/
# SketchMergeAggregatorFactory.java): Spark 4.1's theta_sketch_agg /
# theta_union_agg emit/merge the same Apache DataSketches theta
# binaries, giving the rolled-up table set-op-capable distinct state
# (intersect/diff — the one thing HLL state can't do).
_THETA_SKETCH_TYPES = {"thetaSketch", "sketchBuild", "sketchMerge"}
# Quantiles sketch state (extensions-core/datasketches/.../quantiles/
# DoublesSketchAggregatorFactory.java) via DataSketches KLL:
# kll_sketch_agg_double builds, kll_sketch_merge_double combines.
_KLL_SKETCH_TYPES = {"quantilesDoublesSketch"}


def _hll_lgk(m: dict) -> int:
    return int(m.get("lgK", _DEFAULT_LGK))


def _hll_input(col: Column) -> Column:
    """Sketch-build input encoding: Druid's HyperLogLogCollector hashes
    the EMPTY STRING as a real value (CalciteQueryTest.testCountDistinct
    pins COUNT(DISTINCT unique_dim1)=6 over foo, whose dim1 includes
    ''), but DataSketches treats an empty string as a no-op update.
    Appending a NUL byte is a bijection on string values — distinct
    counts are unchanged — and makes '' a countable 1-byte value.
    NULLs stay NULL (concat propagates) and are skipped, matching the
    collector. All sketches this engine builds use this encoding, so
    build and merge stay consistent."""
    return F.concat(col.cast("string"), F.lit("\x00"))


def rollup(df: DataFrame, dimensions: list[str], metrics: list[dict],
           query_granularity="hour", registry=None) -> DataFrame:
    """Ingest-time rollup: rows with equal (floor(__time), dims) are
    pre-aggregated by the metric aggregators
    (processing/.../incremental/IncrementalIndexSchema.java:42).

    first/last metrics store their MERGEABLE pair state —
    struct(t, v), the SerializablePairLongString analogue — because the
    plain value cannot re-aggregate across buckets; ``reaggregate``
    folds pairs with min_by/max_by on the stored event time and
    ``finalize_metrics`` unwraps to the value."""
    bucketed = df.withColumn(
        "__raw_time", F.col(TIME_COLUMN)).withColumn(
        TIME_COLUMN, time_floor_col(ident(TIME_COLUMN), query_granularity))
    aggs = []
    for m in metrics:
        if m["type"] in _HLL_SKETCH_TYPES:
            # input already sketch state (HLLSketchMerge semantics, or
            # a BinaryType column from a prior rollup) -> union it;
            # raw values -> build with the NUL-sentinel encoding
            fld = m["fieldName"]
            is_state = m["type"] == "HLLSketchMerge" or (
                fld in bucketed.columns
                and isinstance(bucketed.schema[fld].dataType,
                               types.BinaryType))
            if is_state:
                aggs.append(F.hll_union_agg(F.col(fld)).alias(m["name"]))
            else:
                aggs.append(F.hll_sketch_agg(
                    _hll_input(F.col(fld)), _hll_lgk(m)).alias(m["name"]))
            continue
        if m["type"] in _THETA_SKETCH_TYPES:
            aggs.append(F.theta_sketch_agg(
                F.col(m["fieldName"])).alias(m["name"]))
            continue
        if m["type"] in _KLL_SKETCH_TYPES:
            aggs.append(F.kll_sketch_agg_double(
                F.col(m["fieldName"]).cast("double")).alias(m["name"]))
            continue
        which = _FIRST_LAST_TYPES.get(m["type"])
        if which is None:
            aggs.extend(compile_aggregations([m], bucketed, registry))
            continue
        pair = F.struct(F.col("__raw_time").alias("t"),
                        F.col(m["fieldName"]).alias("v"))
        fn = F.min_by if which == "first" else F.max_by
        aggs.append(fn(pair, F.col("__raw_time")).alias(m["name"]))
    return bucketed.groupBy(TIME_COLUMN, *dimensions).agg(*aggs)


_COMBINING = {
    # aggregator type -> combining aggregation over the stored metric
    "count": F.sum,                       # count of RAW rows -> sum
    "longSum": F.sum, "doubleSum": F.sum, "floatSum": F.sum,
    "longMin": F.min, "doubleMin": F.min, "floatMin": F.min,
    "longMax": F.max, "doubleMax": F.max, "floatMax": F.max,
}


def reaggregate(metrics: list[dict]) -> list[Column]:
    """Query-time combining aggregators for a rolled-up table —
    AggregatorFactory.getCombiningFactory() semantics
    (processing/.../aggregation/AggregatorFactory.java). The critical
    case: a `count` metric must re-aggregate as SUM; first/last fold
    their struct(t, v) pair state by stored event time."""
    out = []
    for m in metrics:
        t, name = m["type"], m["name"]
        if t in _HLL_SKETCH_TYPES:
            # merge stored sketch state (getCombiningFactory of
            # HllSketchBuildAggregatorFactory = HllSketchMerge)
            out.append(F.hll_union_agg(F.col(name)).alias(name))
            continue
        if t in _THETA_SKETCH_TYPES:
            # SketchMergeAggregatorFactory.getCombiningFactory -> merge
            out.append(F.theta_union_agg(F.col(name)).alias(name))
            continue
        if t in _KLL_SKETCH_TYPES:
            # kll_sketch_merge_double is a binary scalar (no union
            # aggregate in Spark 4.1): fold the group's states with
            # aggregate() — states are KB-sized, groups are segment
            # counts, so the collect_list payload is tiny
            lst = F.collect_list(F.col(name))
            merged = F.aggregate(
                F.slice(lst, F.lit(2),
                        F.greatest(F.size(lst) - 1, F.lit(0))),
                F.element_at(lst, 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x))
            out.append(merged.alias(name))
            continue
        which = _FIRST_LAST_TYPES.get(t)
        if which is not None:
            fn = F.min_by if which == "first" else F.max_by
            out.append(fn(F.col(name), F.col(name)["t"]).alias(name))
            continue
        fn = _COMBINING.get(t)
        if fn is None:
            raise ValueError(f"no combining aggregator for {t!r}")
        out.append(fn(F.col(name)).alias(name))
    return out


def finalize_metrics(df: DataFrame, metrics: list[dict]) -> DataFrame:
    """MetricManipulatorFns analogue: unwrap mergeable intermediates to
    their final values (first/last pairs -> the value, HLL sketch
    state -> the distinct estimate)."""
    for m in metrics:
        if m["type"] in _FIRST_LAST_TYPES:
            df = df.withColumn(m["name"], F.col(m["name"])["v"])
        elif m["type"] in _HLL_SKETCH_TYPES:
            df = df.withColumn(
                m["name"],
                F.hll_sketch_estimate(F.col(m["name"])).cast("long"))
        elif m["type"] in _THETA_SKETCH_TYPES:
            df = df.withColumn(
                m["name"],
                F.theta_sketch_estimate(F.col(m["name"])).cast("long"))
        elif m["type"] in _KLL_SKETCH_TYPES:
            # finalize to the median, the DoublesSketch default readout;
            # DS_GET_QUANTILE over the stored state serves other ranks
            df = df.withColumn(
                m["name"],
                F.kll_sketch_get_quantile_double(F.col(m["name"]),
                                                 F.lit(0.5)))
    return df


# ---------------------------------------------------------------------------
# Ingest driver + segment write
# ---------------------------------------------------------------------------

def ingest(spark: SparkSession, spec: dict, registry=None) -> DataFrame:
    """Run a batch ingestion spec end-to-end, returning the DataFrame
    that would be persisted (call ``write_segments`` to publish).

    Spec shape mirrors the reference's dataSchema/ioConfig:
    {"ioConfig": {inputSource, inputFormat},
     "dataSchema": {timestampSpec, transformSpec, dimensionsSpec,
                    metricsSpec, granularitySpec}}"""
    ds = spec.get("dataSchema", {})
    df = read_input(spark, spec.get("ioConfig", {}))
    fmt = spec.get("ioConfig", {}).get("inputFormat", {})
    if fmt.get("flattenSpec"):
        df = apply_flatten_spec(df, fmt["flattenSpec"])
    df = apply_timestamp_spec(df, ds.get("timestampSpec"))
    df = apply_transform_spec(df, ds.get("transformSpec"), registry)
    gran = ds.get("granularitySpec", {})
    dims = [d if isinstance(d, str) else d["name"]
            for d in ds.get("dimensionsSpec", {}).get("dimensions", [])]
    if gran.get("rollup", False):
        df = rollup(df, dims, ds.get("metricsSpec", []),
                    gran.get("queryGranularity", "hour"), registry)
    elif dims:
        df = df.select(TIME_COLUMN, *dims)
    return df


def write_segments(df: DataFrame, path: str,
                   segment_granularity="day", mode: str = "overwrite") -> None:
    """Publish as time-partitioned parquet — the segment analogue.

    Partition dir = segment-granularity bucket (VersionedIntervalTimeline
    time chunks); atomic replace of a chunk = dynamic partition
    overwrite, which is Druid's segment versioning collapsed into the
    table format."""
    seg = time_floor_col(ident(TIME_COLUMN), segment_granularity)
    writer = (df.withColumn("__segment", F.date_format(seg, "yyyy-MM-dd'T'HH"))
                .repartition(F.col("__segment"))
                .write.mode(mode).partitionBy("__segment"))
    if mode == "overwrite":
        # Only replace the segment-granularity chunks actually touched
        # (Druid replaces per time chunk, not the whole datasource —
        # VersionedIntervalTimeline overshadowing)
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
