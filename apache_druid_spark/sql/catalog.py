"""sys + INFORMATION_SCHEMA catalogs.

Reference: sql/src/main/java/org/apache/druid/sql/calcite/schema/
SystemSchema.java (segments/servers/server_segments/tasks/supervisors
column sets at lines 134-199) and InformationSchema.java
(SCHEMATA/TABLES/COLUMNS at lines 78-112). Every Druid console and
metadata client reads these.

Spark shape: each catalog table is a small driver-built DataFrame —
exactly how the reference serves them (broker-side iteration over the
metadata cache, not a data query). Segment enumeration is Hadoop
FileSystem metadata listing (no data scan); per-segment row counts are
a column-less parquet count, which the vectorized reader answers from
row-group metadata.

The task/supervisor tables map to Structured Streaming queries — the
engine's ingestion tasks (SURVEY §2.15 topology note: Spark's scheduler
replaces the supervisor/task runner).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import (
    TIME_COLUMN, DatasourceRegistry,
)
from apache_druid_spark.model.granularity import (
    ETERNITY, iso_of, parse_instant, shift_ms,
)

CATALOG_NAME = "druid"

_SEGMENTS_SCHEMA = (
    "segment_id string, datasource string, start string, `end` string, "
    "size bigint, version string, partition_num bigint, "
    "num_replicas bigint, num_rows bigint, is_published bigint, "
    "is_available bigint, is_realtime bigint, is_overshadowed bigint, "
    "shard_spec string, dimensions string, metrics string, "
    "last_compaction_state string"
)

_SERVERS_SCHEMA = (
    "server string, host string, plaintext_port bigint, tls_port bigint, "
    "server_type string, tier string, curr_size bigint, max_size bigint, "
    "is_leader bigint"
)

_TASKS_SCHEMA = (
    "task_id string, group_id string, type string, datasource string, "
    "created_time string, queue_insertion_time string, status string, "
    "runner_status string, duration bigint, location string, host string, "
    "plaintext_port bigint, tls_port bigint, error_msg string"
)

_SUPERVISORS_SCHEMA = (
    "supervisor_id string, state string, detailed_state string, "
    "healthy bigint, type string, source string, suspended bigint, "
    "spec string"
)

def _segment_bounds(bucket: str, granularity: str) -> tuple[str, str]:
    """Partition dir value (yyyy-MM-dd'T'HH) -> ISO start/end strings,
    the end one segment-granularity period after the start. An ALL
    segment (its __segment is NULL) spans eternity."""
    if str(granularity).lower() == "all":
        return tuple(ETERNITY.split("/"))
    start = parse_instant(bucket)
    return iso_of(start), iso_of(shift_ms(start, granularity, 1))


def sys_segments(registry: DatasourceRegistry) -> DataFrame:
    """sys.segments over every published segment set
    (SystemSchema.java:134-150 column set)."""
    spark = registry.spark
    rows = []
    for name, info in registry._segments.items():
        path, gran = info["path"], info["granularity"]
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(conf)
        if not fs.exists(hpath):
            continue
        counts = {
            r["__segment"]: r["cnt"]
            for r in spark.read.parquet(path)
            .groupBy("__segment").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        df = registry.table(name) if name in registry._tables else (
            spark.read.parquet(path))
        dims = [c for c in df.columns
                if c not in (TIME_COLUMN, "__segment")]
        for st in fs.listStatus(hpath):
            dirname = st.getPath().getName()
            if not dirname.startswith("__segment="):
                continue
            bucket = dirname.split("=", 1)[1]
            start, end = _segment_bounds(bucket, gran)
            size = fs.getContentSummary(st.getPath()).getLength()
            version = iso_of(st.getModificationTime())
            rows.append((
                f"{name}_{start}_{end}_{version}", name, start, end,
                int(size), version, 0, 1, int(counts.get(bucket, 0)),
                1, 1, 0, 0,
                json.dumps({"type": "numbered", "partitionNum": 0,
                            "partitions": 1}),
                ",".join(dims), "", None,
            ))
    return spark.createDataFrame(rows, _SEGMENTS_SCHEMA)


def _parse_mem(text: str, default: int = 1 << 30) -> int:
    """Spark memory string → bytes. Bare numbers are MiB (Spark's
    spark.driver.memory convention); k/m/g/t suffixes with optional
    trailing 'b'. Unparseable input falls back to *default* rather
    than failing the whole sys.servers query."""
    import re as _re

    m = _re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", text.lower())
    if not m:
        return default
    mult = {"": 1 << 20, "k": 1 << 10, "m": 1 << 20,
            "g": 1 << 30, "t": 1 << 40}[m.group(2)]
    return int(m.group(1)) * mult


def sys_servers(registry: DatasourceRegistry) -> DataFrame:
    """One row per Spark executor set — the engine's 'historical'."""
    spark = registry.spark
    sc = spark.sparkContext
    host = sc.getConf().get("spark.driver.host", "localhost")
    mem = _parse_mem(sc.getConf().get("spark.driver.memory", "1g"))
    rows = [(f"{host}:0", host, 0, -1, "historical", "_default_tier",
             0, mem, 1)]
    return spark.createDataFrame(rows, _SERVERS_SCHEMA)


def sys_tasks(registry: DatasourceRegistry) -> DataFrame:
    """Active Structured Streaming queries as RUNNING index tasks."""
    spark = registry.spark
    rows = []
    for q in spark.streams.active:
        rows.append((
            q.id, q.runId, "index_kafka", q.name or q.id,
            "", "", "RUNNING", "RUNNING", -1, "", "", -1, -1, None,
        ))
    return spark.createDataFrame(rows, _TASKS_SCHEMA)


def sys_supervisors(registry: DatasourceRegistry) -> DataFrame:
    spark = registry.spark
    rows = []
    for q in spark.streams.active:
        rows.append((
            q.name or q.id, "RUNNING", "RUNNING", 1, "kafka",
            q.name or q.id, 0, "{}",
        ))
    return spark.createDataFrame(rows, _SUPERVISORS_SCHEMA)


_DRUID_SQL_TYPES = {
    "string": "VARCHAR", "bigint": "BIGINT", "int": "INTEGER",
    "smallint": "SMALLINT", "tinyint": "TINYINT", "double": "DOUBLE",
    "float": "FLOAT", "timestamp": "TIMESTAMP", "date": "DATE",
    "boolean": "BOOLEAN", "binary": "COMPLEX<hllSketch>",
}


def information_schema_schemata(registry: DatasourceRegistry) -> DataFrame:
    rows = [("druid",), ("INFORMATION_SCHEMA",), ("lookup",), ("sys",),
            ("view",)]
    return registry.spark.createDataFrame(rows, "SCHEMA_NAME string")


def information_schema_tables(registry: DatasourceRegistry) -> DataFrame:
    rows = [(CATALOG_NAME, "druid", n, "TABLE") for n in registry.names()]
    # every registered lookup is a queryable (k, v) table in the
    # `lookup` schema (sql/.../schema/LookupSchema.java builds the
    # RowSignature LOOKUP_SIGNATURE with columns k/v)
    rows += [(CATALOG_NAME, "lookup", n, "TABLE")
             for n in registry.lookup_names()]
    # registered SQL views (sql/.../view/DruidViewMacro)
    rows += [(CATALOG_NAME, "view", n, "VIEW")
             for n in registry.view_names()]
    rows += [(CATALOG_NAME, "sys", n, "SYSTEM_TABLE")
             for n in ("segments", "servers", "tasks", "supervisors")]
    rows += [(CATALOG_NAME, "INFORMATION_SCHEMA", n, "SYSTEM_TABLE")
             for n in ("SCHEMATA", "TABLES", "COLUMNS")]
    return registry.spark.createDataFrame(
        rows, "TABLE_CATALOG string, TABLE_SCHEMA string, "
              "TABLE_NAME string, TABLE_TYPE string")


def information_schema_columns(registry: DatasourceRegistry) -> DataFrame:
    rows = []
    for name in registry.names():
        df = registry.table(name)
        for i, fld in enumerate(df.schema.fields):
            simple = fld.dataType.simpleString()
            if simple.startswith("array") or simple.startswith("map"):
                dtype = "ARRAY" if simple.startswith("array") else "OTHER"
            else:
                dtype = _DRUID_SQL_TYPES.get(simple, simple.upper())
            rows.append((
                CATALOG_NAME, "druid", name, fld.name, str(i + 1),
                "YES" if fld.nullable else "NO", dtype,
            ))
    for name in registry.lookup_names():
        # LookupSchema's fixed signature: k VARCHAR, v VARCHAR
        rows.append((CATALOG_NAME, "lookup", name, "k", "1", "NO",
                     "VARCHAR"))
        rows.append((CATALOG_NAME, "lookup", name, "v", "2", "NO",
                     "VARCHAR"))
    return registry.spark.createDataFrame(
        rows, "TABLE_CATALOG string, TABLE_SCHEMA string, "
              "TABLE_NAME string, COLUMN_NAME string, "
              "ORDINAL_POSITION string, IS_NULLABLE string, "
              "DATA_TYPE string")


_SYS_BUILDERS = {
    "sys_segments": sys_segments,
    "sys_servers": sys_servers,
    "sys_tasks": sys_tasks,
    "sys_supervisors": sys_supervisors,
    "information_schema_schemata": information_schema_schemata,
    "information_schema_tables": information_schema_tables,
    "information_schema_columns": information_schema_columns,
}


def register_system_views(registry: DatasourceRegistry) -> None:
    """Materialize the catalogs as temp views. Druid SQL spellings
    (``sys.segments``, ``INFORMATION_SCHEMA.COLUMNS``) are rewritten to
    these view names by the dialect shim."""
    for view, builder in _SYS_BUILDERS.items():
        builder(registry).createOrReplaceTempView(view)
