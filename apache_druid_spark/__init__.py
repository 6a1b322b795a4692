"""apache_druid_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of Apache Druid (reference: Druid
0.23.0-SNAPSHOT, the WilSenwish/Apache-Druid fork).

This is NOT a port. Druid's broker/historical scatter-gather, segment
cache, bitmap indexes, and off-heap buffer aggregation are replaced by
Spark's driver/executor model, Catalyst, Tungsten, and parquet. What we
re-implement is the *semantics*: the nine native JSON query types, the
filter / aggregation / post-aggregation surface, Druid SQL function
names, rollup ingestion, lookups, multi-value string dimensions, and
streaming ingest — each expressed as declarative DataFrame plans so
Catalyst picks the physical strategy.

Layout:
    model/       datasource registry, granularities (Druid data model)
    operators/   filters, expressions, aggregations, dimensions,
                 having, limit specs (reusable plan builders)
    plans/       native JSON Query -> DataFrame compiler (the engine)
    functions/   Druid SQL function bodies the dialect inlines (data)
    sources/     batch input sources / input formats, ingestion
    streaming/   Structured Streaming ingest (Kafka-style semantics)
    pipeline/    large-scale training-data ops (dedup, ANN, text, mm)
"""

from apache_druid_spark.session import get_spark
from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.plans.compiler import compile_query

__version__ = "0.1.0"

__all__ = ["get_spark", "DatasourceRegistry", "compile_query", "__version__"]
