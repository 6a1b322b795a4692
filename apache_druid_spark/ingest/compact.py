"""Compaction: rewrite published segments at a new segment granularity
and/or re-apply rollup.

Reference: indexing-service/.../common/task/CompactionTask.java — reads
existing segments for an interval, optionally re-rolls-up, and publishes
replacement segments with a new version. Here the "new version" is a
dynamic-partition-overwrite parquet rewrite (the OPTIMIZE-style batch
job of SURVEY §2.15's late-data row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from apache_druid_spark.model.datasource import TIME_COLUMN
from apache_druid_spark.model.granularity import time_floor_col
from apache_druid_spark.operators.util import ident


def compact(spark: SparkSession, path: str,
            segment_granularity="day",
            rollup: dict | None = None,
            registry=None) -> DataFrame:
    """Rewrite the segment table at `path`.

    rollup: optional {"dimensions": [...], "metricsSpec": [...],
    "queryGranularity": ...} — re-aggregates rows (compaction with
    rollup), using the COMBINING aggregators for already-rolled-up
    metrics (a `count` metric arriving from a previous rollup must
    re-aggregate as sum, so pass the metric spec that matches what the
    table stores)."""
    df = spark.read.parquet(path)
    if "__segment" in df.columns:
        df = df.drop("__segment")
    if rollup:
        from apache_druid_spark.ingest.batch import reaggregate

        dims = rollup.get("dimensions", [])
        gran = rollup.get("queryGranularity", segment_granularity)
        bucketed = df.withColumn(
            TIME_COLUMN, time_floor_col(ident(TIME_COLUMN), gran))
        df = (bucketed.groupBy(TIME_COLUMN, *dims)
              .agg(*reaggregate(rollup.get("metricsSpec", []))))
    from apache_druid_spark.ingest.batch import write_segments

    # write to a temp sibling then swap would be the cluster pattern;
    # overwrite-in-place relies on Spark staging the output first
    out_path = path + ".compacted"
    write_segments(df, out_path, segment_granularity=segment_granularity,
                   mode="overwrite")
    return spark.read.parquet(out_path)
