"""Explain declared queries' physical plans, as files or as budgets.

Usage:
    python tools/explain_dump.py OUTDIR [suffix] [name ...]
    python tools/explain_dump.py --budgets [name ...]

The first form writes `.explain("formatted")` to
OUTDIR/<name>_<suffix>.txt (suffix defaults to "before") over
$SPARK_GRAFT_SF_DIR (default sf0.1). With no names it dumps every
bench.py HEADLINE query.

`--budgets` prints the `PLAN_BUDGETS` literal that
tests/test_plan_shapes.py asserts: each budgeted query's exact
(scan, exchange) line counts over the tests' sf0.001 fixtures. With
no names it covers every budgeted query.
"""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BUDGET_SF_DIR = "/root/testdata/sf0.001"
# an r18 rewrite budgeted beside the headline queries; bench.py skips it
EXTRA_BUDGETED = ("text_unigram_logprob",)


def _load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _headline() -> list[str]:
    return list(_load(os.path.join(ROOT, "bench.py"), "bench_mod").HEADLINE)


def budgeted_names() -> list[str]:
    return _headline() + list(EXTRA_BUDGETED)


def scan_exchange_counts(plan: str) -> tuple[int, int]:
    """Lines naming a parquet scan / an exchange (shuffle or broadcast)
    in an ``explain("formatted")`` dump — tree and detail sections."""
    lines = plan.splitlines()
    return (sum("Scan parquet" in ln for ln in lines),
            sum("Exchange" in ln for ln in lines))


def _plans(names, sf_dir):
    """(name, formatted plan) per query, each built after
    ``clearCache()`` so no earlier query's cached frame shows up."""
    entry = _load(os.path.join(ROOT, "__spark_entry__.py"), "entry")
    from apache_druid_spark.session import get_spark

    spark = get_spark("explain_dump")
    qs = entry.queries()
    for name in names:
        spark.catalog.clearCache()
        df = qs[name](spark, sf_dir)
        yield name, df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")


def main(argv: list[str]) -> None:
    if argv[:1] == ["--budgets"]:
        rows = [f'    "{name}": {scan_exchange_counts(plan)},' for name, plan
                in _plans(argv[1:] or budgeted_names(), BUDGET_SF_DIR)]
        print("PLAN_BUDGETS = {\n" + "\n".join(rows) + "\n}")
        return
    outdir = argv[0]
    suffix = argv[1] if len(argv) > 1 else "before"
    os.makedirs(outdir, exist_ok=True)
    for name, plan in _plans(argv[2:] or _headline(), SF_DIR):
        out = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan)} bytes)")


if __name__ == "__main__":
    main(sys.argv[1:])
