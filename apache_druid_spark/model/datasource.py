"""Datasource registry — the engine's "table catalog".

Reference: Druid's seven datasource kinds
(processing/src/main/java/org/apache/druid/query/DataSource.java:33-39):
table, query, union, join, lookup, inline, globalTable. Here a
*registered* datasource is a named DataFrame (usually a parquet/Delta
read) with a mandatory ``__time`` TimestampType column (reference:
processing/src/main/java/org/apache/druid/segment/column/ColumnHolder.java:31).
The remaining kinds are resolved structurally by the query compiler
(plans/compiler.py): ``query`` nests, ``union`` -> unionByName,
``join`` -> df.join(broadcast(...)), ``inline`` -> createDataFrame,
``lookup``/``globalTable`` -> broadcast.

At 100 TB the registry maps a datasource to a time-partitioned table;
``__time`` range predicates become partition pruning, which is why the
compiler funnels every interval filter through the ``__time`` column
rather than post-filtering.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TIME_COLUMN = "__time"


def local_path(uri: str) -> str | None:
    """A file URI (as ``DataFrame.inputFiles()`` lists it) as a local
    path; None for a remote store, whose footers are not free to read."""
    if uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    if "://" not in uri:
        return uri
    return None


def _as_segment(df: DataFrame) -> DataFrame:
    """``df`` as ONE partition when it reads exactly one local parquet
    file holding exactly one row group — a single Druid segment, which
    Spark scans as one task anyway. Declaring it (``coalesce(1)``, a
    ``SinglePartition`` child) lets an aggregate, topN, sort, window or
    streamed join side over the scan plan with no Exchange: one job,
    one stage, one task, and nothing for a broker to merge. Any other
    source is returned untouched."""
    import pyarrow.parquet as pq

    try:
        files = df.inputFiles()
        path = local_path(files[0]) if len(files) == 1 else None
        if path is None or pq.ParquetFile(path).metadata.num_row_groups != 1:
            return df
    except Exception:  # noqa: BLE001 — unreadable footer: keep the plan
        return df
    return df.coalesce(1)


@dataclass
class DatasourceRegistry:
    """Name -> DataFrame catalog plus lookup maps.

    ``time_columns`` remembers which source column was renamed to
    ``__time`` so scans can expose the original name when asked.
    """

    spark: SparkSession
    _tables: dict[str, DataFrame] = field(default_factory=dict)
    _lookups: dict[str, DataFrame] = field(default_factory=dict)
    # view name -> Druid SQL text (expanded at reference time)
    _views: dict[str, str] = field(default_factory=dict)
    time_columns: dict[str, str] = field(default_factory=dict)
    # datasource -> {"path", "granularity"} for published segment sets
    # (feeds sys.segments, sql/catalog.py)
    _segments: dict[str, dict] = field(default_factory=dict)
    # bumped on every register() so cached SQL temp-view registration
    # (sql/dialect.py) refreshes when a name is re-registered with a
    # new DataFrame (e.g. a second INSERT into the same target)
    epoch: int = 0
    # (name, epoch, intervals) -> (min __time, max __time) — the broker's
    # timeline-extent lookup, answered from parquet footer statistics
    # when possible, else a narrow column-pruned min/max scan
    # (plans/compiler._data_extent)
    extent_cache: dict = field(default_factory=dict)
    # name -> RAW time column whose parquet footer min/max statistics
    # determine the ``__time`` extent. Populated ONLY by the two
    # unfiltered-file-read registration paths (register_parquet,
    # register_published) — an arbitrary register()ed DataFrame may
    # filter rows, so its footers could overstate the extent and are
    # never consulted (plans/compiler._footer_extent).
    footer_time_cols: dict = field(default_factory=dict)
    # lookup name -> (epoch, its lookup_map, or None above the cap that
    # built it), filled on first use
    lookup_maps: dict = field(default_factory=dict)

    # -- registration ---------------------------------------------------
    def register(
        self, name: str, df: DataFrame, time_column: str | None = None
    ) -> DataFrame:
        """Register a table datasource; optionally adopt ``time_column``
        as the Druid ``__time`` column (kept under both names).

        Nanosecond-precision parquet timestamps arrive as LongType under
        spark.sql.legacy.parquet.nanosAsLong — normalize them to
        TimestampType (micros) here so every downstream operator sees a
        real timestamp. Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)
        reads as TIMESTAMP_NTZ; with the session pinned to UTC the cast
        to TIMESTAMP is value-preserving, and normalizing here keeps the
        whole engine on one timestamp flavor (unix_millis & friends
        reject NTZ)."""
        from pyspark.sql import types as T

        for f in df.schema.fields:
            if isinstance(f.dataType, T.TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        if time_column is not None:
            dt = df.schema[time_column].dataType
            if isinstance(dt, T.LongType):
                # integer division: float division loses precision
                # above 2^53 ns (~epoch 2255 in µs, but ns hit it now)
                converted = F.timestamp_micros(
                    F.expr(f"`{time_column}` div 1000"))
                df = df.withColumn(time_column, converted)
            if time_column != TIME_COLUMN:
                df = df.withColumn(TIME_COLUMN, F.col(time_column))
                self.time_columns[name] = time_column
        self._tables[name] = df
        self.footer_time_cols.pop(name, None)  # arbitrary df: no footers
        self.epoch += 1
        return df

    def register_parquet(
        self, name: str, path: str, time_column: str | None = None
    ) -> DataFrame:
        df = self.register(name, _as_segment(self.spark.read.parquet(path)),
                           time_column)
        if time_column is not None:
            # register() only renames/converts (monotonic) — footer
            # min/max of the raw column determine the __time extent
            self.footer_time_cols[name] = time_column
        return df

    def register_view(self, name: str, sql: str) -> None:
        """SQL view over datasources: the Druid SQL text expands into
        the enclosing query's plan at reference time (sql/.../view/
        InProcessViewManager.java, DruidViewMacro). Queryable as
        ``view.<name>`` — the reference likewise requires the ``view.``
        qualifier (CalciteQueryTest uses ``view.aview``)."""
        self._views[name] = sql
        self.epoch += 1

    def view_names(self) -> list[str]:
        return sorted(self._views)

    def view_sql(self, name: str) -> str:
        return self._views[name]

    def register_lookup(self, name: str, mapping_or_df) -> None:
        """Lookup datasource: key->value string map, broadcast to all
        tasks (reference: processing/.../query/lookup/LookupSegment.java).
        Accepts a dict or a 2-column (k, v) DataFrame."""
        if isinstance(mapping_or_df, dict):
            df = self.spark.createDataFrame(
                list(mapping_or_df.items()), schema="k string, v string"
            )
        else:
            df = mapping_or_df.toDF("k", "v")
        self._lookups[name] = df
        self.epoch += 1

    # -- resolution -----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        if name in self._lookups:
            return self.lookup_df(name)
        raise KeyError(f"unknown datasource: {name!r}")

    def lookup_df(self, name: str) -> DataFrame:
        if name not in self._lookups:
            raise KeyError(f"unknown lookup: {name!r}")
        return self._lookups[name]

    def lookup_map(self, name: str, cap: int | None = None) -> dict | None:
        """The lookup as one key -> value dict: a duplicated key keeps
        its largest value (SQL max), a null value is omitted (the key
        reads as missing). Collected once per epoch and lookup; None
        when it has more than ``cap`` keys."""
        hit = self.lookup_maps.get(name)
        if hit is None or hit[0] != self.epoch or (hit[1] is None
                                                   and cap is None):
            rows = self.lookup_df(name).groupBy("k").agg(
                F.max("v").alias("v"))
            rows = (rows if cap is None else rows.limit(cap + 1)).collect()
            full = cap is None or len(rows) <= cap
            hit = (self.epoch, {k: v for k, v in rows if k is not None
                                and v is not None} if full else None)
            self.lookup_maps[name] = hit
        m = hit[1]
        return None if m is None or cap is not None and len(m) > cap else m

    def record_segments(self, name: str, path: str,
                        segment_granularity: str = "day") -> None:
        """Remember where a datasource's published segment set lives so
        the sys.segments catalog (sql/catalog.py) can enumerate it —
        the metadata-store SegmentsTable analogue."""
        self._segments[name] = {"path": path,
                                "granularity": str(segment_granularity)}

    def segment_info(self, name: str) -> dict | None:
        return self._segments.get(name)

    def register_published(self, name: str, path: str,
                           segment_granularity: str = "day") -> DataFrame:
        """Register a published segment set (write_segments output),
        KEEPING the ``__segment`` partition column so the query
        compiler can turn interval predicates into partition-directory
        pruning — Druid's timeline segment pruning
        (VersionedIntervalTimeline.lookup). The column is stripped
        before query operators see the frame (plans/compiler.py), so it
        is an implementation detail exactly like Druid's segment ids.

        At 100 TB this is the difference between listing/opening every
        segment file for footer stats and never touching directories
        outside the queried interval."""
        df = _as_segment(self.spark.read.parquet(path))
        self._tables[name] = df
        self.footer_time_cols[name] = TIME_COLUMN
        self.epoch += 1
        self.record_segments(name, path, segment_granularity)
        return df

    def names(self) -> list[str]:
        return sorted(self._tables)

    def lookup_names(self) -> list[str]:
        return sorted(self._lookups)


def register_testdata(registry: DatasourceRegistry, sf_dir: str) -> None:
    """Register the driver's synthetic tables (TESTDATA.md) with their
    natural time columns as ``__time`` where one exists.

    Sets nanosAsLong on the session (runtime-settable) so
    TIMESTAMP(NANOS) parquet (events.ts) reads as long even when the
    session wasn't built by our ``get_spark``."""
    registry.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    time_cols = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        registry.register_parquet(
            name, f"{sf_dir}/{name}.parquet", time_cols.get(name)
        )
