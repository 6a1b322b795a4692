"""One time-bucket lowering for both languages: query granularity
(``granularity_sql``) and SQL TIME_FLOOR give the same bucket for every
cell of a table of periods, origins, zones, named granularities and
durations over edge instants (pre-1970, the 2011/2012 Los Angeles DST
days, a leap day, 1950, the 1986 Kathmandu offset change); SQL
TIME_CEIL / TIME_SHIFT match the native expressions and the Python
twins for every named granularity. Row tests pin the integral ROUND by
a column scale, ARRAY_OFFSET_OF's needle typing, the native lookup
extraction above the inline cap and a refused zone id, and two lints keep the lowering in one
place."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.model.granularity import (
    GRANULARITIES, floor_ms, granularity_sql, parse_instant, period_of,
    shift_ms, time_floor_col,
)
from apache_druid_spark.operators import dimensions
from apache_druid_spark.operators.dimensions import (
    compile_dimension_spec, compile_extraction_fn,
)
from apache_druid_spark.operators.expressions import compile_expression
from apache_druid_spark.sql import dialect
from apache_druid_spark.sql.dialect import druid_sql

PACKAGE = os.path.join(os.path.dirname(__file__), os.pardir,
                       "apache_druid_spark")

INSTANTS = ["1969-12-31T23:59:59.999Z", "1950-06-15T01:02:03Z",
            "2011-03-13T10:30:00Z", "2011-11-06T08:30:00Z",
            "2012-03-11T10:30:00Z", "2012-11-04T08:30:00Z",
            "2012-02-29T12:34:56.789Z", "1986-01-01T00:10:00Z",
            "2000-01-03T05:29:59.999Z"]
PERIODS = ["PT1H", "PT6H", "PT7H", "PT90M", "P1D", "P1W", "P2W", "P1M",
           "P3M", "P7M", "P1Y", "P3Y", "PT12H5M", "P1DT1H", "P1M1D",
           "P1M2D"]
ZONES = [None, "America/Los_Angeles", "Asia/Kathmandu", "+05:00"]
ORIGIN = "2000-01-03T05:30:00Z"
ORIGIN_SQL = "TIMESTAMP '2000-01-03 05:30:00'"
DURATIONS = [{"type": "duration", "duration": 90 * 60_000},
             {"type": "duration", "duration": 2 * 86_400_000,
              "origin": ORIGIN},
             {"type": "duration", "duration": 45_000, "origin": ORIGIN}]


def _cells(zone):
    """(granularity, SQL TIME_FLOOR arguments after the timestamp) of
    every cell under ``zone``: 16 periods with and without an origin,
    the 14 named granularities, 3 durations (which have no zone)."""
    z = "NULL" if zone is None else f"'{zone}'"
    for p in PERIODS:
        yield {"type": "period", "period": p, "timeZone": zone}, \
            f"'{p}', NULL, {z}"
        yield ({"type": "period", "period": p, "timeZone": zone,
                "origin": ORIGIN}, f"'{p}', {ORIGIN_SQL}, {z}")
    for name, p in GRANULARITIES.items():
        yield name, f"'{p}', NULL, {z}"
    for d in DURATIONS:
        origin = ORIGIN_SQL if d.get("origin") else "NULL"
        yield d, f"'{period_of(d)}', {origin}"


@pytest.fixture(scope="module")
def instants(spark):
    reg = DatasourceRegistry(spark)
    reg.register("eq_instants", spark.createDataFrame(
        [(parse_instant(t),) for t in INSTANTS], "ms long").select(
        "ms", F.timestamp_millis("ms").alias("t"),
        F.timestamp_millis("ms").alias("__time")))
    return reg


@pytest.mark.parametrize("zone", ZONES)
def test_query_granularity_is_sql_time_floor(spark, instants, zone):
    cells = list(_cells(zone))
    # the zone reaches every cell; a duration ignores it
    native = instants.table("eq_instants").select("ms", *[
        F.expr(granularity_sql("t", g, zone)).alias(f"c{i}")
        for i, (g, _) in enumerate(cells)])
    sql = druid_sql(spark, "SELECT ms, " + ", ".join(
        f"TIME_FLOOR(t, {args}) AS c{i}"
        for i, (_, args) in enumerate(cells)) + " FROM eq_instants",
        instants)
    got = {r["ms"]: r for r in native.collect()}
    want = {r["ms"]: r for r in sql.collect()}
    assert len(cells) == 49 and len(got) == len(INSTANTS)
    bad = [(cells[i][0], ms) for ms in got for i in range(len(cells))
           if got[ms][f"c{i}"] != want[ms][f"c{i}"]]
    assert not bad


# the cells the two languages used to disagree on, at the answers settled
# for them (PeriodGranularity: elapsed time from the origin instant, by
# default the zone's local 1970-01-01T00:00; the month-then-day walk from
# a literal origin; no zone for a duration)
SETTLED = [
    ({"type": "period", "period": "PT12H5M", "timeZone": "+05:00"},
     "1969-12-31T23:59:59.999Z", "1969-12-31T19:00:00Z"),
    ({"type": "period", "period": "PT12H5M",
      "timeZone": "America/Los_Angeles"},
     "1969-12-31T23:59:59.999Z", "1969-12-31T19:55:00Z"),
    ({"type": "period", "period": "PT12H5M",
      "timeZone": "Asia/Kathmandu"},
     "1969-12-31T23:59:59.999Z", "1969-12-31T18:30:00Z"),
    ({"type": "period", "period": "PT12H5M",
      "timeZone": "America/Los_Angeles", "origin": ORIGIN},
     "2012-11-04T08:30:00Z", "2012-11-04T01:35:00Z"),
    ({"type": "period", "period": "P1M1D",
      "timeZone": "America/Los_Angeles", "origin": ORIGIN},
     "2000-01-03T05:29:59.999Z", "1999-12-02T05:30:00Z"),
    ({"type": "duration", "duration": 2 * 86_400_000, "origin": ORIGIN,
      "timeZone": "Asia/Kathmandu"},
     "2012-02-29T12:34:56.789Z", "2012-02-29T05:30:00Z"),
]


@pytest.mark.parametrize("gran, at, want", SETTLED)
def test_settled_cells(spark, gran, at, want):
    got = spark.range(1).select(F.unix_millis(time_floor_col(
        f"timestamp_millis({parse_instant(at)})", gran)).alias("v")
    ).first()["v"]
    assert got == parse_instant(want)


@pytest.mark.parametrize("name", sorted(GRANULARITIES))
def test_ceil_and_shift_match_native_and_twins(spark, instants, name):
    p = GRANULARITIES[name]
    df = instants.table("eq_instants")
    native = df.select("ms", *[
        F.unix_millis(compile_expression(e)).alias(a) for a, e in (
            ("c", f"timestamp_ceil(t, '{p}')"),
            ("s", f"timestamp_shift(t, '{p}', 1)"),
            ("b", f"timestamp_shift(t, '{p}', -2)"))]).collect()
    sql = druid_sql(spark, f"""SELECT ms,
        TIMESTAMP_TO_MILLIS(TIME_CEIL(t, '{p}')) AS c,
        TIMESTAMP_TO_MILLIS(TIME_SHIFT(t, '{p}', 1)) AS s,
        TIMESTAMP_TO_MILLIS(TIME_SHIFT(t, '{p}', -2)) AS b
        FROM eq_instants""", instants).collect()

    def twin(ms):
        f = floor_ms(ms, name)
        return (ms if f == ms else shift_ms(f, name, 1),
                shift_ms(ms, name, 1), shift_ms(ms, name, -2))

    want = {ms: twin(ms) for ms in (parse_instant(t) for t in INSTANTS)}
    assert {r["ms"]: (r["c"], r["s"], r["b"]) for r in native} == want
    assert {r["ms"]: (r["c"], r["s"], r["b"]) for r in sql} == want


# -- ROUND of an integral column by a column scale ------------------------

def test_integral_round_by_a_column_scale(spark):
    reg = DatasourceRegistry(spark)
    reg.register("eq_round", spark.createDataFrame(
        [(15, -1), (12345, 2), (-25, -1)], "l bigint, k int"))
    out = druid_sql(spark, "SELECT l, ROUND(l, k) AS r FROM eq_round",
                    reg)
    assert out.schema["r"].dataType.simpleString() == "bigint"
    assert {r["l"]: r["r"] for r in out.collect()} == {
        15: 20, 12345: 12345, -25: -30}


# -- ARRAY_OFFSET_OF / ARRAY_ORDINAL_OF cast the needle -------------------

def test_array_offset_of_multi_value_string_needle(spark):
    reg = DatasourceRegistry(spark)
    reg.register("eq_mv", spark.createDataFrame(
        [(["a", "2", "b"],)], "tags array<string>"))
    row = druid_sql(spark, "SELECT ARRAY_OFFSET_OF(tags, 'b') AS o, "
                           "ARRAY_ORDINAL_OF(tags, '2') AS n, "
                           "ARRAY_OFFSET_OF(tags, 2) AS i, "
                           "ARRAY_OFFSET_OF(tags, 'z') AS m FROM eq_mv",
                    reg).first()
    assert tuple(row) == (2, 2, 1, None)
    native = reg.table("eq_mv").select(compile_expression(
        "array_offset_of(tags, 'b')").alias("v")).first()["v"]
    assert native == 2


def test_array_offset_of_string_array_reads_the_needle_as_string(spark):
    """A numeric needle in an ARRAY<STRING> is its string form: '02' and
    '2.0' are not 2 (the elements are not read as numbers)."""
    row = druid_sql(spark, "SELECT ARRAY_OFFSET_OF(ARRAY['02', 'a'], 2) "
                           "AS a, ARRAY_OFFSET_OF(ARRAY['2.0'], 2) AS b, "
                           "ARRAY_ORDINAL_OF(ARRAY['1', '2'], 2) AS c, "
                           "ARRAY_OFFSET_OF(ARRAY[1, 2], 2.0) AS d"
                    ).first()
    assert tuple(row) == (None, None, 2, 1)
    native = spark.range(1).select(*[compile_expression(e).alias(f"c{i}")
                                     for i, e in enumerate((
        "array_offset_of(array('02', 'a'), 2)",
        "array_ordinal_of(array('1', '2'), 2)"))]).first()
    assert tuple(native) == (None, 2)


# -- the native lookup extraction above the inline cap -------------------

@pytest.fixture
def capped(spark, monkeypatch):
    monkeypatch.setattr(dialect, "_LOOKUP_INLINE_MAX", 3)
    reg = DatasourceRegistry(spark)
    reg.register_lookup("eq_big", {f"k{i}": f"v{i}" for i in range(5)})
    reg.register("eq_keys", spark.createDataFrame(
        [("k1", ["k2", "x"]), ("k4", ["k0"]), ("x", None), (None, [])],
        "k string, ks array<string>"))
    return reg


@pytest.mark.parametrize("retain", [False, True])
def test_lookup_extraction_above_the_cap_is_sql_lookup(spark, capped,
                                                       retain):
    spec = {"type": "extraction", "dimension": "k", "outputName": "v",
            "extractionFn": {"type": "registeredLookup", "lookup": "eq_big",
                             "retainMissingValue": retain}}
    df = capped.table("eq_keys")
    _, col = compile_dimension_spec(spec, capped, df)
    native = df.select("k", col.alias("v"))
    plan = native._jdf.queryExecution().analyzed().toString()
    assert "scalar-subquery" in plan and "element_at(map(" not in plan
    sql = druid_sql(spark, "SELECT k, " + (
        "COALESCE(LOOKUP(k, 'eq_big'), k)" if retain
        else "LOOKUP(k, 'eq_big')") + " AS v FROM eq_keys", capped)
    want = {"k1": "v1", "k4": "v4", "x": "x" if retain else None,
            None: None}
    assert {r["k"]: r["v"] for r in native.collect()} == want
    assert {r["k"]: r["v"] for r in sql.collect()} == want


def test_multi_value_lookup_above_the_cap_inlines_the_map(spark, capped):
    """Spark refuses a subquery inside a higher-order function's lambda,
    so a per-element lookup over a multi-value column keeps the map
    literal above the cap, in both languages."""
    spec = {"type": "extraction", "dimension": "ks", "outputName": "v",
            "extractionFn": {"type": "registeredLookup",
                             "lookup": "eq_big"}}
    df = capped.table("eq_keys")
    _, col = compile_dimension_spec(spec, capped, df)
    native = df.select("k", col.alias("v"))
    sql = druid_sql(spark, "SELECT k, LOOKUP(ks, 'eq_big') AS v "
                           "FROM eq_keys", capped)
    for out in (native, sql):
        got = {r["k"]: r["v"] for r in out.collect()}
        assert got["k1"] == ["v2", None] and got["k4"] == ["v0"]


def test_array_offset_of_a_subquery_needle(spark, capped):
    """Above the cap LOOKUP is a scalar subquery; as ARRAY_OFFSET_OF's
    needle it stays outside any lambda, so the statement analyzes."""
    rows = druid_sql(spark, "SELECT k, ARRAY_OFFSET_OF(ARRAY['v0', 'v1', "
                            "'v4'], LOOKUP(k, 'eq_big')) AS o FROM eq_keys",
                     capped).collect()
    assert {r["k"]: r["o"] for r in rows} == {"k1": 1, "k4": 2, "x": None,
                                             None: None}


def test_a_zone_id_is_not_quoted_into_sql():
    gran = {"type": "period", "period": "P1D",
            "timeZone": "UTC', 'x') --"}
    with pytest.raises(ValueError, match="Invalid time zone"):
        granularity_sql("t", gran)
    with pytest.raises(ValueError, match="Invalid time zone"):
        compile_extraction_fn({"type": "timeFormat", "format": "yyyy",
                               "timeZone": "Asia/Kathmandu'"}, "t")


# -- lints: one bucket lowering, extraction fns as SQL text ----------------

_BUCKET_SPELLINGS = re.compile(
    r"date_trunc\(|from_utc_timestamp\(|to_utc_timestamp\("
    r"|F\.date_trunc|F\.from_utc_timestamp|F\.to_utc_timestamp")
_OWNERS = {os.path.join("model", "granularity.py"),
           os.path.join("functions", "registry.py")}


def test_buckets_and_zone_shifts_only_in_granularity():
    """Only model/granularity.py (the builder) and functions/registry.py
    (PERIOD_BODIES, the per-row fallback for a non-literal period)
    spell a bucket or a zone shift."""
    bad = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PACKAGE)
            if not f.endswith(".py") or rel in _OWNERS:
                continue
            for n, line in enumerate(open(path), start=1):
                if _BUCKET_SPELLINGS.search(line):
                    bad.append(f"{rel}:{n}")
    assert not bad


# one spec per extraction-fn type compile_extraction_fn names
SPECS = {
    "identity": {},
    "regex": {"expr": "(a)", "replaceMissingValue": True},
    "partial": {"expr": "a"},
    "substring": {"index": 1, "length": 2},
    "strlen": {},
    "timeFormat": {"format": "yyyy", "timeZone": "Asia/Kathmandu",
                   "granularity": "day"},
    "time": {"timeFormat": "yyyy", "resultFormat": "MM"},
    "upper": {},
    "lower": {},
    "bucket": {"size": 2, "offset": 1},
    "stringFormat": {"format": "[%s]"},
    "cascade": {"extractionFns": [{"type": "upper"}]},
    "lookup": {"lookup": {"type": "map", "map": {"a": "b"}},
               "retainMissingValue": True},
    "registeredLookup": {"lookup": "eq_none"},
    "searchQuery": {"query": {"type": "fragment", "values": ["a"]}},
}


def _extraction_types() -> set[str]:
    """The type names compile_extraction_fn compares ``t`` with, read
    from its source."""
    tree = ast.parse(open(dimensions.__file__).read())
    fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
              and n.name == "compile_extraction_fn")
    names = set()
    for node in ast.walk(fn):
        if (isinstance(node, ast.Compare)
                and isinstance(node.left, ast.Name) and node.left.id == "t"):
            for c in ast.walk(node.comparators[0]):
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    names.add(c.value)
    return names - {"javascript"}


def test_every_extraction_fn_compiles_to_sql_text(spark):
    assert _extraction_types() == set(SPECS)
    reg = DatasourceRegistry(spark)
    df = spark.createDataFrame([("a",)], "s string")
    for t, spec in SPECS.items():
        text = compile_extraction_fn({"type": t, **spec}, "s", reg)
        assert type(text) is str, t
        df.select(F.expr(text)).collect()
