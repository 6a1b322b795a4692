"""Dump `.explain("formatted")` for declared queries to plans/<tag>/.

Usage:
    python tools/explain_dump.py <tag> [suffix] [name ...]

Writes plans/<tag>/<name>_<suffix>.txt (suffix defaults to "before").
With no names, dumps every bench.py HEADLINE query.
"""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def main() -> None:
    tag = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    entry = _load(os.path.join(ROOT, "__spark_entry__.py"), "entry")
    bench = _load(os.path.join(ROOT, "bench.py"), "bench_mod")
    if not names:
        names = bench.HEADLINE
    from apache_druid_spark.session import get_spark

    spark = get_spark("explain_dump")
    qs = entry.queries()
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
