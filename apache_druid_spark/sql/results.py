"""Query result serialization formats.

Reference: sql/src/main/java/org/apache/druid/sql/http/SqlResource.java:72-110
and ResultFormat.java — object / array / objectLines / arrayLines / csv,
optionally with a header row.
"""

from __future__ import annotations

import csv
import io
import json
from datetime import date, datetime

from pyspark.sql import DataFrame

from apache_druid_spark.model.granularity import datetime_ms, iso_of
from apache_druid_spark.plans import timeout


def _jsonable(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if hasattr(v, "asDict"):
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    return v


# Spark dtype -> (Druid native type, SQL type) for the typesHeader /
# sqlTypesHeader rows (sql/.../http/ResultFormat + ObjectWriter:
# __time is natively LONG / SQL TIMESTAMP; MV strings type STRING)
_HEADER_TYPES = {
    "string": ("STRING", "VARCHAR"),
    "bigint": ("LONG", "BIGINT"),
    "int": ("LONG", "INTEGER"),
    "smallint": ("LONG", "SMALLINT"),
    "tinyint": ("LONG", "TINYINT"),
    "double": ("DOUBLE", "DOUBLE"),
    "float": ("FLOAT", "FLOAT"),
    "timestamp": ("LONG", "TIMESTAMP"),
    "date": ("LONG", "DATE"),
    "boolean": ("LONG", "BOOLEAN"),
    "array<string>": ("STRING", "ARRAY"),
    "binary": ("COMPLEX", "OTHER"),
}


def _header_types(df: DataFrame) -> tuple[list[str], list[str]]:
    druid, sql = [], []
    for _name, dtype in df.dtypes:
        d, s = _HEADER_TYPES.get(dtype, ("COMPLEX", "OTHER"))
        druid.append(d)
        sql.append(s)
    return druid, sql


def scan_result_values(q: dict, registry) -> list[dict]:
    """Native scan-query results as ScanResultValue envelopes
    (processing/.../query/scan/ScanResultValue.java,
    ScanQueryEngine.java): ``{"segmentId", "columns", "events"}`` with
    rows chunked ``batchSize`` per value (0/absent -> the reference
    default 4096*5, ScanQuery.java:208).

    resultFormat ``list`` (default) emits events as maps;
    ``compactedList`` as arrays in ``columns`` order. ``__time``
    serializes as epoch MILLIS (ScanQueryEngine reads the LONG time
    column; ScanQueryRunnerTest's non-legacy expectations convert to
    getMillis()). ``legacy: true`` reproduces the pre-0.13 Select
    shape (ScanQueryEngine.java legacy branch): a leading
    ``timestamp`` column holding the ISO instant, with ``__time``
    kept only when explicitly requested.

    segmentId is null: results here are already broker-merged, and the
    reference's time-ordered broker merge likewise drops per-segment
    attribution (ScanQueryQueryToolChest n-way merge)."""
    from apache_druid_spark.plans.compiler import compile_query

    legacy = bool(q.get("legacy"))
    req = list(q.get("columns") or [])
    qq = dict(q)
    if legacy and req and "__time" not in req:
        # the legacy timestamp derives from the time column; fetch it
        # without changing the user-visible projection
        qq["columns"] = ["__time"] + req
    with timeout.query_scope(registry.spark, q):
        df = compile_query({**qq, "queryType": "scan"}, registry)
        rows = timeout.run_with_timeout(df)

    out_cols = list(df.columns)
    if legacy:
        out_cols = (["timestamp"]
                    + [c for c in out_cols
                       if c != "__time" or "__time" in req])

    def _event(row) -> dict:
        ev = {}
        for c in out_cols:
            if c == "timestamp" and legacy:
                ev[c] = iso_of(datetime_ms(row["__time"]))
            elif c == "__time" and isinstance(row[c], datetime):
                ev[c] = datetime_ms(row[c])
            else:
                ev[c] = _jsonable(row[c])
        return ev

    events = [_event(r) for r in rows]
    fmt = q.get("resultFormat", "list")
    if fmt == "compactedList":
        events = [[e[c] for c in out_cols] for e in events]
    elif fmt != "list":
        raise ValueError(f"unknown scan resultFormat: {fmt!r}")
    batch = int(q.get("batchSize") or 0) or 4096 * 5
    return [{"segmentId": None, "columns": out_cols,
             "events": events[i:i + batch]}
            for i in range(0, len(events), batch)]


def format_results(df: DataFrame, fmt: str = "object",
                   header: bool = False, types_header: bool = False,
                   sql_types_header: bool = False) -> str:
    """Serialize a result DataFrame in a Druid ResultFormat. With
    ``header``, ``types_header`` / ``sql_types_header`` add the Druid
    native-type and SQL-type header rows (array/csv formats) or the
    per-column type objects in the first line (object-lines formats) —
    SqlResourceTest testArrayResultFormatWithHeader /
    testCsvResultFormatWithHeaders /
    testObjectLinesResultFormatWithFullHeader."""
    cols = df.columns
    dts, sts = _header_types(df)
    rows = [[_jsonable(v) for v in r] for r in timeout.run_with_timeout(df)]
    if fmt == "object":
        return json.dumps([dict(zip(cols, r)) for r in rows])
    if fmt == "array":
        out = []
        if header:
            out.append(cols)
            if types_header:
                out.append(dts)
            if sql_types_header:
                out.append(sts)
        return json.dumps(out + rows)
    if fmt == "objectLines":
        lines = []
        if header:
            if types_header or sql_types_header:
                hdr = {c: ({} if not (types_header or sql_types_header)
                           else {**({"type": d} if types_header else {}),
                                 **({"sqlType": s} if sql_types_header
                                    else {})})
                       for c, d, s in zip(cols, dts, sts)}
            else:
                hdr = {c: None for c in cols}
            lines.append(json.dumps(hdr))
        lines += [json.dumps(dict(zip(cols, r))) for r in rows]
        return "\n".join(lines)
    if fmt == "arrayLines":
        lines = []
        if header:
            lines.append(json.dumps(cols))
            if types_header:
                lines.append(json.dumps(dts))
            if sql_types_header:
                lines.append(json.dumps(sts))
        lines += [json.dumps(r) for r in rows]
        return "\n".join(lines)
    if fmt == "csv":
        buf = io.StringIO()
        w = csv.writer(buf)
        if header:
            w.writerow(cols)
            if types_header:
                w.writerow(dts)
            if sql_types_header:
                w.writerow(sts)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
        return buf.getvalue()
    raise ValueError(f"unknown result format: {fmt!r}")
