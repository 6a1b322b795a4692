"""Audit oracle-vs-Spark results at the pandas layer, driver-style.

The driver's correctness gate converts both result sets through pandas
before hashing, so differences invisible to a Spark-side ``collect``
comparison still flip the hash: DuckDB maps HUGEINT (the result of any
``SUM`` over an integer input) to float64 while Spark keeps int64, and
the values then hash as ``6.0`` vs ``6``.  This script replays that
pipeline: it compares pandas dtypes (ignoring benign pairs that render
identically — int32/int64, datetime ns/us) and then the sorted
``repr``-canonicalized cell values, which is as close to the driver's
hash as we can get locally.

Usage: python tools/dtype_audit.py [name ...]
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# dtype pairs that stringify identically cell-by-cell (observed to pass
# the driver hash in rounds 1-2)
_BENIGN = {
    frozenset({"int32", "int64"}),
    frozenset({"int16", "int64"}),
    frozenset({"int8", "int64"}),
    frozenset({"datetime64[ns]", "datetime64[us]"}),
    frozenset({"float32", "float64"}),
}


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(ROOT, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _cell(v):
    # one canonical token per cell; floats rounded like oracle_check
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 6))
    return repr(v)


def _canon(df):
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)]
    return sorted(rows)


def main() -> int:
    entry = _load_entry()
    from apache_druid_spark.session import get_spark

    spark = get_spark("dtype_audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"ERR {name}: {e!r}".replace("\n", " ")[:300])
            bad.append(name)
            continue
        sdt = {c: str(t) for c, t in sdf.dtypes.items()}
        odt = {c: str(t) for c, t in odf.dtypes.items()}
        diffs = []
        for c in sorted(set(sdt) | set(odt)):
            a, b = sdt.get(c), odt.get(c)
            if a != b and frozenset({a, b}) not in _BENIGN:
                diffs.append(f"{c}: spark={a} oracle={b}")
        if diffs:
            print(f"DTYPE {name}: " + "; ".join(diffs))
            bad.append(name)
            continue
        try:
            sc, oc = _canon(sdf), _canon(odf)
        except TypeError as e:  # unhashable/unsortable cells (arrays)
            print(f"CANON {name}: {e!r}")
            bad.append(name)
            continue
        if sc != oc:
            mism = [(a, b) for a, b in zip(sc, oc) if a != b][:2]
            extra = abs(len(sc) - len(oc))
            print(f"VALUE {name}: {len(sc)} vs {len(oc)} rows, "
                  f"first diffs {mism}, row-count delta {extra}"[:400])
            bad.append(name)
    print(f"\n{len(bad)} entries differ" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
