"""Scale probe for the nested-MV explode-groupBy path (VERDICT r6
task #6 / r7 task #6): run the dialect's MV explode rewrite over a
tokens MV derived from sf0.1 documents at 1x / 10x / 30x row
amplification and report wall seconds + the ratio.

The shape is the round-6 SCALE.md plan: derived-table projection
exposing an MV column -> row filter -> GROUP BY (explodes via LATERAL
VIEW) -> ORDER BY n LIMIT 20. Linear-ish ratios (<= ~N at Nx rows)
confirm the explode multiplies rows only inside the partial-aggregate
stage; super-linear would flag a shuffle of exploded rows.

Usage: python tools/mv_explode_scale.py
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    from apache_druid_spark import DatasourceRegistry, get_spark
    from apache_druid_spark.sql.dialect import druid_sql

    spark = get_spark("mv_explode_scale")
    base = (spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
            .withColumn("__time", F.timestamp_millis(F.lit(0)))
            .withColumn("tokens", F.split(F.col("text"), r"\s+"))
            .select("__time", "doc_id", "lang", "tokens"))

    sql = """
        SELECT t, COUNT(*) AS n FROM (
          SELECT tokens AS t, lang FROM docs_mv WHERE lang <> 'xx'
        ) GROUP BY 1 ORDER BY n DESC LIMIT 20
    """
    results = {}
    for n in (1, 10, 30):
        df = base
        if n > 1:
            df = (base.select(
                "*", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
                .alias("__rep"))
                .withColumn("doc_id", F.col("doc_id")
                            + F.col("__rep") * F.lit(10 ** 9))
                .drop("__rep"))
        reg = DatasourceRegistry(spark)
        reg.register("docs_mv", df)
        # warm the session/view registration outside the timed window
        druid_sql(spark, "SELECT COUNT(*) FROM docs_mv", reg).collect()
        t0 = time.time()
        out = druid_sql(spark, sql, reg).collect()
        dt = time.time() - t0
        results[f"{n}x"] = round(dt, 3)
        print(f"{n}x: {dt:.3f}s rows={df.count()} top={out[0][0][:12]}"
              f" n={out[0][1]}")
    r10 = results["10x"] / results["1x"]
    r30 = results["30x"] / results["1x"]
    print(json.dumps({"mv_explode_groupby": results,
                      "ratio_10x": round(r10, 2),
                      "ratio_30x": round(r30, 2)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
