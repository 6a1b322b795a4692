"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same configuration scales to a real
cluster — AQE handles runtime re-planning (partition coalescing, skew
joins, dynamic broadcast), and UTC session time zone pins Druid's
millis-since-epoch semantics (reference:
core/src/main/java/org/apache/druid/java/util/common/DateTimes.java).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="druid_spark_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(prefix: str) -> str:
    """A new directory under this process's scratch root (in the system
    temp directory); the whole root is removed at interpreter exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def _driver_memory() -> str:
    """Half the host's physical memory, at most 48g: a heap sized for a
    far larger host lets the JVM grow until the machine runs out."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48 << 30, host // 2) >> 30)}g"


def get_spark(
    app_name: str = "apache_druid_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults to local[N] over the CPUs this process may run on
    (``SPARK_GRAFT_CPUS`` overrides N), but every knob here is the one
    you would also set on a 1000-executor cluster: AQE on, UTC, Arrow
    for the pandas paths, shuffle partitions sized to the parallelism
    at hand rather than the 200 default.
    """
    nproc = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores; on a real cluster this would be
        # 2-3x total executor cores (set via extra_conf).
        shuffle_partitions = int(cpus) if cpus.isdigit() else nproc

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Druid's expression evaluation never throws on coercion
        # (processing/.../math/expr/ExprEval.java: malformed numeric
        # strings evaluate to null/0, casts truncate through decimal,
        # '10.1' = 10 compares numerically) — Spark's legacy (non-ANSI)
        # semantics match that contract; ANSI mode would hard-fail a
        # 100 TB scan on one malformed row
        .config("spark.sql.ansi.enabled", "false")
        # non-ANSI flips size(NULL) to legacy -1; Druid's
        # array_length(null) is null (ArrayLengthExprMacro) — keep the
        # null-propagating form
        .config("spark.sql.legacy.sizeOfNull", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written data) reads as
        # long nanos; sources convert to TimestampType on registration
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 timestamps carry no footer statistics — write MICROS so
        # published segments answer extent/min-max from metadata
        # (plans/compiler._footer_extent) and prune on row-group stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # the generated-class cache is an LRU, 100 entries by default;
        # the six-operator curation chain alone cycles through 126
        # distinct classes, so at 100 every class is evicted before its
        # next use and each warm pass recompiled 88-110 of them (9-11 ms
        # of Janino each). 1000 holds that working set with room for
        # the served queries; a static conf, fixed at JVM start
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
