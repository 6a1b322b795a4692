"""Build an amplified measurement dataset (~sf1) from sf0.1.

VERDICT r17 "What's wrong #2": at sf0.1 the bench is task-overhead
bound (8 cores beat 32), so optimization A/Bs there mostly measure
stage-launch latency. This tool replicates the sf0.1 tables N times
(default 10) with shifted ids — the scale_smoke.amplify shape: replicas
are distinct documents/vectors with a realistic near-dup rate, like a
crawl re-crawl — into a scratch dir laid out exactly like a testdata
sf dir, so `SPARK_GRAFT_SF_DIR=<out> tools/qtime.py <q>` times the
same declared queries where the work is data-bound.

Measurement-only: nothing in the bench or the declared queries reads
this directory; results over it are never compared to the oracle.

Usage: python tools/make_sfbig.py [N] [outdir]   (default 10 /root/sfbig)
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.1"

# tables amplified with an id shift (replica rows become distinct
# entities); everything else copies through unchanged
AMPLIFY = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": None,  # no unique id col — replicate rows as-is
}


def main() -> None:
    from pyspark.sql import functions as F

    from apache_druid_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/root/sfbig"
    spark = get_spark("make_sfbig")
    os.makedirs(out, exist_ok=True)
    for name in sorted(os.listdir(SRC)):
        if not name.endswith(".parquet"):
            continue
        table = name[: -len(".parquet")]
        src, dst = os.path.join(SRC, name), os.path.join(out, name)
        if table not in AMPLIFY:
            if os.path.isdir(src):
                shutil.copytree(src, dst, dirs_exist_ok=True)
            else:
                shutil.copy2(src, dst)
            print(f"copied {table}")
            continue
        df = spark.read.parquet(src)
        rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("__rep")
        wide = df.select("*", rep)
        id_col = AMPLIFY[table]
        if id_col is not None:
            wide = wide.withColumn(
                id_col,
                F.col(id_col).cast("long")
                + F.col("__rep").cast("long") * F.lit(10 ** 9))
        wide.drop("__rep").repartition(32).write.mode(
            "overwrite").parquet(dst)
        print(f"amplified {table} x{n}")
    print(f"done -> {out}")


if __name__ == "__main__":
    main()
