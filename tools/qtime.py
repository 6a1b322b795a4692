"""Time individual declared queries with the noop sink (guide §1.4).

Usage:
    python tools/qtime.py <name> [name ...] [--runs N]

Warm-up once per query, then N timed runs (default 3); prints each
sample plus min/median. clearCache between runs mirrors bench.py.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def main() -> None:
    # accept both --runs=N and --runs N (ADVICE r17)
    argv = sys.argv[1:]
    runs = 3
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--runs":
            runs = int(argv[i + 1])
            i += 2
            continue
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    entry = _load(os.path.join(ROOT, "__spark_entry__.py"), "entry")
    from apache_druid_spark.session import get_spark

    spark = get_spark("qtime")
    qs = entry.queries()
    for name in args:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        qs[name](spark, SF_DIR).write.mode("overwrite").format(
            "noop").save()
        samples = []
        for i in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.mode("overwrite").format(
                "noop").save()
            samples.append(round(time.time() - t0, 3))
        print(f"{name}: {samples} min={min(samples)} "
              f"median={statistics.median(samples)} load1="
              f"{os.getloadavg()[0]:.1f}")


if __name__ == "__main__":
    main()
