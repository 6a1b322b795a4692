"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 alongside its ``oracle_sql()``
DuckDB equivalent and compares row count, column names, and
order-insensitive values. Usage:

    python tools/oracle_check.py [name ...]
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(ROOT, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(_norm(r[i])) for i in order) for r in rows
    )


def main() -> int:
    entry = _load_entry()
    from apache_druid_spark.plans.timeout import query_scope
    from apache_druid_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with query_scope(spark, {"context": {"queryId": name}}):
                df = fn(spark, SF_DIR)
                srows = df.collect()
                scols = df.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e!r}"[:500])
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            if len(srows) == 0:
                print(f"     WARNING: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e!r}"[:500])
            failed.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            failed.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            failed.append(name)
            continue
        sc = _canon([tuple(r) for r in srows], scols)
        oc = _canon(orows, ocols)
        if sc != oc:
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            print(f"FAIL {name}: value mismatch, e.g. {diffs}")
            failed.append(name)
            continue
        print(f"PASS {name} ({len(srows)} rows, {dt:.1f}s)")
    print(f"\n{len(failed)} failed" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
