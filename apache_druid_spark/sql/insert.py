"""SQL-driven batch ingest: INSERT/REPLACE INTO ... SELECT ... FROM
TABLE(EXTERN(...)) PARTITIONED BY <granularity>.

Reference: parser sql/src/main/java/org/apache/druid/sql/calcite/parser/
DruidSqlInsert.java; EXTERN table function
sql/.../external/ExternalOperatorConversion.java:50-56; validation
(__time required, PARTITIONED BY mandatory) DruidPlanner.java:151-152.

Spark shape: EXTERN's (inputSource, inputFormat, signature) JSON args
feed ingest.read_input, the signature becomes casts, the SELECT runs
through spark.sql over a temp view, and the write is a
segment-granularity-partitioned parquet publish — dynamic partition
overwrite for REPLACE (segment versioning collapsed into the table
format).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_druid_spark.model.datasource import TIME_COLUMN
from apache_druid_spark.sql.dialect import (
    _depths, _in_string, _string_spans,
)

_INSERT_RE = re.compile(
    r"^\s*(INSERT|REPLACE)\s+INTO\s+([A-Za-z_][\w.]*|\"[^\"]+\")\s+"
    r"(?:OVERWRITE\s+ALL\s+)?(.*?)\s*"
    r"PARTITIONED\s+BY\s+"
    r"(ALL\s+TIME|\w+|'[^']+'"
    r"|FLOOR\s*\(\s*__time\s+TO\s+\w+\s*\)"
    r"|TIME_FLOOR\s*\(\s*__time\s*,\s*'[^']+'\s*\))\s*"
    r"(?:CLUSTERED\s+BY\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# granularities DruidSqlParserUtils accepts after PARTITIONED BY
_PARTITIONED_BY_GRANS = frozenset((
    "hour day month year all quarter week minute second "
    "fifteen_minute thirty_minute five_minute six_hour eight_hour "
    "all time"  # "ALL TIME" normalizes to "all time"
).split() + ["all time"])

_EXTERN_RE = re.compile(
    r"TABLE\s*\(\s*EXTERN\s*\(\s*'((?:[^']|'')*)'\s*,\s*'((?:[^']|'')*)'\s*"
    r"(?:,\s*'((?:[^']|'')*)'\s*)?\)\s*\)",
    re.IGNORECASE | re.DOTALL,
)

_DRUID_TO_SPARK_TYPE = {
    "string": "string", "long": "bigint", "double": "double",
    "float": "float",
}


_TRUNC_GRAN = {  # FLOOR(__time TO X) / TIME_FLOOR ISO -> granularity
    "HOUR": "hour", "DAY": "day", "MONTH": "month", "YEAR": "year",
    "QUARTER": "quarter", "WEEK": "week", "MINUTE": "minute",
    "PT1H": "hour", "P1D": "day", "P1M": "month", "P1Y": "year",
    "P3M": "quarter", "P1W": "week", "PT1M": "minute",
}


def validate_insert(text: str) -> None:
    """DruidSqlInsert / DruidSqlParserUtils validation contracts
    (CalciteInsertDmlTest): raise the reference's error for malformed
    INSERT statements. No-op for non-INSERT text."""
    head = re.match(r"^\s*(INSERT|REPLACE|UPSERT)\s+INTO\s+"
                    r"([A-Za-z_][\w.]*|\"[^\"]+\")\s*(\()?",
                    text, re.IGNORECASE)
    if head is None:
        return
    verb = head.group(1).upper()
    if verb == "UPSERT":
        raise ValueError("UPSERT is not supported.")
    if head.group(3):
        raise ValueError(
            f"{verb} with target column list is not supported.")
    target = head.group(2).strip('"')
    if "/" in target:
        raise ValueError(
            f"{verb} dataSource cannot contain the '/' character.")
    spans = _string_spans(text)
    pb = next((m for m in re.finditer(
        r"\bPARTITIONED\s+BY\s+(ALL\s+TIME|\w+|'[^']+'"
        r"|FLOOR\s*\([^)]*\)|TIME_FLOOR\s*\([^)]*\))",
        text, re.IGNORECASE) if not _in_string(spans, m.start())), None)
    if pb is None:
        raise ValueError(
            f"{verb} statements must specify PARTITIONED BY clause "
            f"explicitly")
    arg = pb.group(1)
    gran = re.sub(r"\s+", " ", arg.strip("'").strip().lower())
    if not (gran in _PARTITIONED_BY_GRANS
            or arg.upper().startswith(("FLOOR", "TIME_FLOOR"))
            or re.fullmatch(r"p[t\dymwdhs]+", gran)):
        raise ValueError(
            f"Encountered '{arg.strip(chr(39))}' after PARTITIONED BY. "
            f"Expected HOUR, DAY, MONTH, YEAR, ALL TIME, FLOOR "
            f"function or TIME_FLOOR function")
    # ORDER BY on the OUTER insert query is rejected (CLUSTERED BY is
    # the supported spelling); ORDER BY inside subqueries is fine —
    # check depth-0 occurrences before PARTITIONED BY only
    depths = _depths(text)
    for m in re.finditer("ORDER BY", text[:pb.start()], re.IGNORECASE):
        if depths[m.start()] == 0 and not _in_string(spans, m.start()):
            raise ValueError(
                "Cannot have ORDER BY on an INSERT query, use "
                "CLUSTERED BY instead.")


def parse_insert(text: str) -> dict | None:
    m = _INSERT_RE.match(text)
    if not m:
        return None
    verb, target, select, gran, clustered = m.groups()
    gran_norm = re.sub(r"\s+", " ", gran.strip("'").strip().lower())
    fm = re.match(r"(?i)(?:FLOOR\s*\(\s*__time\s+TO\s+(\w+)\s*\)"
                  r"|TIME_FLOOR\s*\(\s*__time\s*,\s*'([^']+)'\s*\))",
                  gran)
    if fm:
        key = (fm.group(1) or fm.group(2) or "").upper()
        gran_norm = _TRUNC_GRAN.get(key, gran_norm)
    elif gran_norm == "all time":
        gran_norm = "all"
    return {
        "verb": verb.upper(), "target": target.strip('"'),
        "select": select,
        "granularity": gran_norm,
        "clustered_by": ([c.strip() for c in clustered.split(",")]
                         if clustered else []),
    }


def _extern_df(spark: SparkSession, select: str) -> tuple[str, str]:
    """Replace TABLE(EXTERN(...)) with a registered temp view; returns
    the rewritten SELECT and the view name."""
    m = _EXTERN_RE.search(select)
    if not m:
        return select, ""
    src_json, fmt_json, sig_json = m.groups()
    src = json.loads(src_json.replace("''", "'"))
    fmt = json.loads(fmt_json.replace("''", "'"))
    from apache_druid_spark.ingest.batch import read_input

    df = read_input(spark, {"inputSource": src, "inputFormat": fmt})
    if sig_json:
        sig = json.loads(sig_json.replace("''", "'"))
        cols = []
        for c in sig:
            name, typ = c["name"], str(c.get("type", "string")).lower()
            cols.append(F.col(name).cast(
                _DRUID_TO_SPARK_TYPE.get(typ, typ)).alias(name))
        df = df.select(*cols)
    view = "__extern_input"
    df.createOrReplaceTempView(view)
    return select[:m.start()] + view + select[m.end():], view


def druid_sql_insert(spark: SparkSession, text: str, registry,
                     base_path: str) -> DataFrame:
    """Execute a Druid INSERT/REPLACE statement; returns the written
    DataFrame and registers the target as a datasource."""
    from apache_druid_spark.ingest.batch import write_segments
    from apache_druid_spark.sql.dialect import druid_sql

    validate_insert(text)
    spec = parse_insert(text)
    if spec is None:
        raise ValueError("not an INSERT/REPLACE statement")
    # target validation (DruidSqlInsert/IngestHandler: only the druid
    # schema is writable — CalciteInsertDmlTest testInsertIntoSystemTable
    # / IntoView / IntoNonexistentSchema all reject)
    target = spec["target"]
    if "." in target:
        schema, _, bare = target.partition(".")
        if schema.lower() != "druid":
            raise ValueError(
                f"Cannot {spec['verb']} into [{target}] because it is "
                f"not a Druid datasource.")
        spec["target"] = bare
    select, _ = _extern_df(spark, spec["select"])
    out = druid_sql(spark, select, registry)
    if TIME_COLUMN not in out.columns:
        if str(spec["granularity"]).lower() == "all":
            # PARTITIONED BY ALL TIME permits a __time-less SELECT —
            # everything lands in the eternal chunk and __time
            # defaults to epoch 0 (CalciteInsertDmlTest
            # testInsertFromView inserts a one-string-column view;
            # MSQ fills 1970-01-01 for the missing timestamp)
            out = out.select(
                F.lit("1970-01-01 00:00:00").cast("timestamp")
                .alias(TIME_COLUMN), "*")
        else:
            raise ValueError(
                "INSERT requires a __time column in the SELECT "
                "(DruidPlanner.java:151-152 validation)")
    out = out.withColumn(TIME_COLUMN, F.col(TIME_COLUMN).cast("timestamp"))
    if spec["clustered_by"]:
        # CLUSTERED BY accepts output-column ORDINALS
        # (testInsertWithPartitionedByAndClusteredBy: CLUSTERED BY
        # 2, dim1 — DruidSqlInsert resolves 2 to the second SELECT
        # output, like ORDER BY ordinals) and per-column ASC/DESC
        # direction tokens (testInsertWithClusteredBy: CLUSTERED BY
        # 2, dim1 DESC, CEIL(m2) — the direction feeds the scan
        # query's orderBy)
        cols = []
        for c in spec["clustered_by"]:
            s = str(c).strip()
            desc = False
            m = re.match(r"(.+?)\s+(ASC|DESC)$", s, re.IGNORECASE)
            if m:
                s = m.group(1).strip()
                desc = m.group(2).upper() == "DESC"
            col = F.col(out.columns[int(s) - 1] if s.isdigit() else s)
            cols.append(col.desc() if desc else col)
        out = out.repartitionByRange(*cols)
    path = f"{base_path}/{spec['target']}"
    # DruidSqlInsert semantics: INSERT *appends* segments to the
    # datasource; REPLACE overwrites — and only the touched
    # segment-granularity chunks (dynamic partition overwrite), matching
    # OVERWRITE WHERE/ALL timeline overshadowing.
    mode = "append" if spec["verb"] == "INSERT" else "overwrite"
    write_segments(out, path, segment_granularity=spec["granularity"],
                   mode=mode)
    df = spark.read.parquet(path).drop("__segment")
    registry.register(spec["target"], df)
    registry.record_segments(spec["target"], path, spec["granularity"])
    return df
