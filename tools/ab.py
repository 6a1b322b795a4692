"""Interleaved A/B timing of two variants of one query.

Usage:
    python tools/ab.py MOD:FUNC MOD:FUNC --sf DIR [--pairs N]
    python tools/ab.py --entry NAME REF_A REF_B --sf DIR [--pairs N]

The first form compares two builders ``(spark, sf_dir) -> DataFrame`` in
one session; modules resolve against the repo root (``__spark_entry__``
builders included). The second form compares one declared
``__spark_entry__`` query at two git refs: each ref is exported with
``git archive`` into its own tree and served by its own subprocess, so
each side imports its own ``apache_druid_spark``.

Both sides must return the same rows (digest of the sorted row reprs)
before anything is timed; a mismatch exits 1. Each side then runs once
untimed, and N pairs are timed with the first runner alternating. A run
is build + noop-sink write after ``clearCache()``, as in bench.py.
Output: one line per pair with the host 1-min load, each side's median
and quartiles and its Janino compile count over its timed runs, then a
one-line JSON summary. The callable form reads the compile counter of
its one session, so a class one side compiled is found cached by the
other; in the git-ref form each side's subprocess counts its own.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_REPLY = "@ab "


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return f"{len(rows)} rows, sha256 {h}"


def _compiles(spark) -> int:
    """Janino compilations so far in this session's JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _timed(spark, build) -> tuple[float, int]:
    """(seconds, Janino compilations) of one run."""
    spark.catalog.clearCache()
    c0 = _compiles(spark)
    t0 = time.perf_counter()
    build().write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0, _compiles(spark) - c0


class _Local:
    """A builder run in this process's session."""

    def __init__(self, spark, spec: str, sf_dir: str):
        mod, _, fn = spec.partition(":")
        self.build = getattr(importlib.import_module(mod), fn)
        self.spark, self.sf_dir = spark, sf_dir

    def digest(self) -> str:
        return _digest(self.build(self.spark, self.sf_dir))

    def time(self) -> tuple[float, int]:
        return _timed(self.spark, lambda: self.build(self.spark, self.sf_dir))


class _Remote:
    """A declared entry served from a git ref's tree by a subprocess."""

    def __init__(self, stack: contextlib.ExitStack, ref: str, name: str,
                 sf_dir: str):
        tree = tempfile.mkdtemp(prefix="ab-")
        stack.callback(shutil.rmtree, tree, ignore_errors=True)
        archive = subprocess.run(["git", "-C", ROOT, "archive", ref],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--serve", tree,
             name, sf_dir], cwd=tree, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        stack.callback(self.proc.wait)
        stack.callback(self.proc.stdin.close)

    def _ask(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        for line in self.proc.stdout:
            if line.startswith(_REPLY):
                return line[len(_REPLY):].strip()
        raise RuntimeError(f"ab worker exited (code {self.proc.wait()})")

    def digest(self) -> str:
        return self._ask("digest")

    def time(self) -> tuple[float, int]:
        seconds, compiles = self._ask("time").split()
        return float(seconds), int(compiles)


def _serve(tree: str, name: str, sf_dir: str) -> None:
    """Worker loop: answer ``digest`` / ``time`` lines for one entry."""
    sys.path.insert(0, tree)
    spec = importlib.util.spec_from_file_location(
        "ab_entry", os.path.join(tree, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    import apache_druid_spark
    from apache_druid_spark.session import get_spark

    if not apache_druid_spark.__file__.startswith(tree):
        raise RuntimeError(f"imported {apache_druid_spark.__file__}, "
                           f"not the package under {tree}")
    spark = get_spark(f"ab {name}")
    build = entry.queries()[name]
    for cmd in sys.stdin:
        if cmd.strip() == "digest":
            out = _digest(build(spark, sf_dir))
        else:
            seconds, compiles = _timed(spark, lambda: build(spark, sf_dir))
            out = f"{seconds:.4f} {compiles}"
        print(_REPLY + out, flush=True)


def compare(a, b, labels: tuple[str, str], pairs: int) -> dict:
    da, db = a.digest(), b.digest()
    if da != db:
        print(f"value mismatch: {labels[0]}: {da}; {labels[1]}: {db}",
              file=sys.stderr)
        raise SystemExit(1)
    print(f"value-identical: {da}", flush=True)
    a.time(), b.time()  # warm-up, not timed
    times: tuple[list[float], list[float]] = ([], [])
    compiles = [0, 0]
    for i in range(pairs):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        for k in order:
            seconds, n = (a, b)[k].time()
            times[k].append(seconds)
            compiles[k] += n
        print(f"pair {i}: {labels[0]}={times[0][-1]:.3f} "
              f"{labels[1]}={times[1][-1]:.3f} first={labels[order[0]]} "
              f"load1={os.getloadavg()[0]:.2f}", flush=True)
    summary: dict = {"a": labels[0], "b": labels[1], "pairs": pairs}
    for key, label, xs, n in zip("ab", labels, times, compiles):
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        print(f"{label}: median={med:.3f} q1={q1:.3f} q3={q3:.3f} "
              f"compiles={n}")
        summary.update({f"{key}_median": round(med, 4),
                        f"{key}_q1": round(q1, 4), f"{key}_q3": round(q3, 4),
                        f"{key}_compiles": n})
    summary["a_faster_pairs"] = sum(x < y for x, y in zip(*times))
    print(json.dumps(summary), flush=True)
    return summary


def main(argv: list[str] | None = None, spark=None) -> dict:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--entry", help="declared entry name (git-ref form)")
    p.add_argument("a", help="MOD:FUNC, or REF_A with --entry")
    p.add_argument("b", help="MOD:FUNC, or REF_B with --entry")
    p.add_argument("--sf", required=True, help="test-data directory")
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)
    if args.pairs < 2:
        p.error("--pairs must be at least 2")
    with contextlib.ExitStack() as stack:
        if args.entry:
            sides = [_Remote(stack, ref, args.entry, args.sf)
                     for ref in (args.a, args.b)]
        else:
            if ROOT not in sys.path:
                sys.path.insert(0, ROOT)
            if spark is None:
                from apache_druid_spark.session import get_spark
                spark = get_spark("ab")
            sides = [_Local(spark, spec, args.sf) for spec in (args.a, args.b)]
        return compare(*sides, (args.a, args.b), args.pairs)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--serve"]:
        _serve(*sys.argv[2:5])
    else:
        main()
