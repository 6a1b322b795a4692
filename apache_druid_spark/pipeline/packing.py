"""Deterministic corpus shuffle + sequence packing for training runs.

Two operators every LLM training-data pipeline needs between "clean
corpus" and "token stream":

- ``deterministic_shuffle``: a reproducible global permutation. No
  ``rand()`` — the sort key is a content hash (same md5-60bit family
  as pipeline/sampling.py), so every run and every engine produces the
  identical order, and changing ``seed`` gives an independent epoch
  permutation.
- ``pack_sequences``: concat-and-chunk packing — lay the (shuffled)
  documents end to end as one virtual token stream and cut it into
  fixed ``budget``-token context windows; each document is assigned
  the window its first token lands in.

Scale design (100 TB): the packing needs a GLOBAL exclusive prefix sum
of token counts in hash order. A bare ``Window.orderBy`` with no
partition key executes on ONE task — the classic single-partition
bottleneck — so this implements the textbook two-phase distributed
scan instead: bucket by the high bits of the hash (bucket order ==
hash order), per-bucket token totals (tiny: n_buckets rows) come to
the driver for an exclusive running total, and the within-bucket
cumsum runs as a normal partitioned window. One shuffle (the window's
hash partition on bucket), driver state = n_buckets longs — the same
legitimately-small driver footprint as a lookup broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apache_druid_spark.pipeline.dedup import _tokens
from apache_druid_spark.pipeline.sampling import _hash_u60

# high-bits divisor mapping a u60 hash into its ordered bucket
_U60 = 1 << 60


def deterministic_shuffle(df: DataFrame, key_col: str = "doc_id",
                          seed: str = "epoch0",
                          out_col: str = "shuffle_order") -> DataFrame:
    """Attach the reproducible permutation rank key. Downstream
    consumers ``orderBy(out_col)`` (or range-partition by it) — the
    hash itself is the rank, so no global row-number pass is needed
    and ties are impossible short of an md5 collision on distinct
    keys."""
    return df.withColumn(out_col, _hash_u60(F.col(key_col), seed))


def pack_sequences(df: DataFrame, budget: int = 2048,
                   text_col: str = "text", id_col: str = "doc_id",
                   seed: str = "epoch0",
                   n_buckets: int = 64) -> DataFrame:
    """(id, n_tokens, start_offset, pack_id) — concat-and-chunk packing
    of the hash-shuffled corpus into ``budget``-token windows.

    ``start_offset`` is the document's position in the virtual global
    token stream; ``pack_id = start_offset // budget``. Deterministic
    end to end: hash order + exact prefix sums, no RNG, no
    single-partition window (see module docstring)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    h = _hash_u60(F.col(id_col), seed)
    base = df.select(
        F.col(id_col), h.alias("__h"),
        (F.floor(h / F.lit(_U60 // n_buckets))).cast("int")
        .alias("__bucket"),
        F.expr(f"CAST(size({_tokens(text_col)}) AS BIGINT) AS n_tokens"),
    )
    # phase 1: per-bucket totals -> driver-side exclusive running total
    # (n_buckets scalars — legitimately driver-side, like a lookup dim)
    totals = {r["__bucket"]: r["t"] for r in
              base.groupBy("__bucket")
                  .agg(F.sum("n_tokens").alias("t")).collect()}
    running = 0
    offsets = {}
    for b in range(n_buckets):
        offsets[b] = running
        running += int(totals.get(b, 0))
    base_map = F.create_map(
        *[x for b in range(n_buckets)
          for x in (F.lit(b), F.lit(offsets[b]))])
    # phase 2: within-bucket exclusive cumsum — partitioned window,
    # parallel across buckets; (bucket, hash) order == global hash order
    w = (Window.partitionBy("__bucket").orderBy("__h")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = (base_map[F.col("__bucket")]
             + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (base.select(
        F.col(id_col), "n_tokens", start.alias("start_offset"),
        F.floor(start / F.lit(budget)).cast("long").alias("pack_id")))
