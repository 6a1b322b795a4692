"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 \
        --trace 0

Run from the root of a source checkout; the package is imported from
that checkout and nowhere else. The sf0.1 tables come from
``perfbench/testdata/``; what a run draws from ``--seed`` and writes
goes to a per-run directory under ``.perfbench_tmp/`` that is removed
at the end. Spark runs in-process as ``local[nproc]``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Lines before it repeat each
metric with its unit and record the environment.

With ``--trace 1`` the workload alternates untraced and traced slices
of ``--seconds / 2``, two of each. Per-layer metrics come from the
traced slices; ``trace.overhead_pct`` is the difference between the
two sides' median latency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # the run is abandoned, with a non-zero exit, after this


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the box's memory, between 1 and 2 GiB: the engine's
    own default (48g) assumes a far larger host."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    gib = max(1, min(2, kb // (4 * 1024 * 1024)))
    return f"{gib}g"


def import_package():
    """Import the engine from this checkout; exit 2 if it is not there."""
    sys.path.insert(0, ROOT)
    try:
        import apache_druid_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        sys.exit(2)
    pkg = os.path.dirname(os.path.abspath(apache_druid_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        print(f"perfbench: engine imported from {pkg}, not this checkout",
              file=sys.stderr)
        sys.exit(2)


def start_spark(run_dir: str, cores: int, memory: str, trace: bool):
    from apache_druid_spark import get_spark

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            # a fixed-size heap keeps peak memory from following
            # heap-sizing decisions that vary from run to run
            f"-Xms{memory} -Djava.io.tmpdir={local} -XX:-UsePerfData",
    }
    if trace:
        # keep every job and stage of the traced run in the status store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{cores}]",
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()  # later Java object releases then fail quietly
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall back to a kill
                proc.kill()
                proc.wait()


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the JVM it started."""
    total_kb = 0
    for pid in ("self", jvm_pid()):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [e - s for s, e in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def watchdog(limit_s: float) -> threading.Timer:
    def abort():
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting",
              file=sys.stderr)
        try:
            from pyspark import SparkContext
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.kill()
                proc.wait()
        finally:
            os._exit(3)
    t = threading.Timer(limit_s, abort)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_package()
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = nproc()
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = tempfile.tempdir = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    dog = watchdog(RUN_LIMIT_S)
    load_start, cpu_start = os.getloadavg(), cpu_times()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, cores,
                            os.environ["SPARK_DRIVER_MEMORY"],
                            bool(args.trace))
        spark_start_s = time.perf_counter() - t0
        ctx = workloads.Context(spark=spark, seed=args.seed,
                                seconds=args.seconds, run_dir=run_dir,
                                clients=cores, trace=bool(args.trace))
        res = workloads.WORKLOADS[args.workload](ctx)
        if not args.trace:
            res.metrics["peak_rss_mb"] = (peak_rss_mb(), "MB")
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # when no other run uses it
        except OSError:
            pass
        dog.cancel()
        teardown_s = time.perf_counter() - t0
    load_end = os.getloadavg()
    steal = steal_share(cpu_start, cpu_times())

    env = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "nproc": cores,
           "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
           "spark_start_s": round(spark_start_s, 3),
           "teardown_s": round(teardown_s, 3),
           "loadavg_start": [round(x, 2) for x in load_start],
           "loadavg_end": [round(x, 2) for x in load_end],
           "cpu_steal_share": round(steal, 4)}
    print("env " + json.dumps(env))
    for note in res.notes:
        print(note)
    print(f"error_rate {res.failed / max(1, res.attempted):.6f} ratio "
          f"({res.failed} of {res.attempted})")
    for name, (value, unit) in res.metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted, "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res.metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
