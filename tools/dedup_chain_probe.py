"""One-shot large-amplification probe of the full dedup chain
(VERDICT r4 #8): minhash LSH -> connected_components(star) ->
keep-representatives at the largest rig-feasible document count.

scale_smoke tops out at 30x (~150k docs); this runs the CHAIN once at
Nx (default 100x of sf0.1 ~= 500k docs) and records what matters for
the O(log^2 n) claim: the star round count, wall time per stage, and
the per-stage peak shuffle volume (pulled from the local Spark UI REST
API after the run). Results belong in SCALE.md.

Usage: python tools/dedup_chain_probe.py [N]
"""

from __future__ import annotations

import json
import logging
import os
import sys
import time
import urllib.request

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.scale_smoke import amplify  # noqa: E402


class _RoundCapture(logging.Handler):
    def __init__(self):
        super().__init__()
        self.rounds = None

    def emit(self, record):
        msg = record.getMessage()
        if "converged in" in msg:
            self.rounds = int(msg.split("converged in ")[1].split()[0])


def _shuffle_stats(ui_port: int = 4040) -> dict:
    """Total + peak per-stage shuffle write bytes from the UI API."""
    try:
        base = f"http://localhost:{ui_port}/api/v1/applications"
        apps = json.load(urllib.request.urlopen(base, timeout=5))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/{app_id}/stages?status=complete", timeout=10))
        writes = [s.get("shuffleWriteBytes", 0) for s in stages]
        return {"stages": len(stages),
                "total_shuffle_write_mb": round(sum(writes) / 2**20, 1),
                "peak_stage_shuffle_write_mb":
                    round(max(writes or [0]) / 2**20, 1)}
    except Exception as e:  # noqa: BLE001 — stats are best-effort
        return {"error": str(e)}


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = "/root/testdata/sf0.1"

    from apache_druid_spark import DatasourceRegistry, get_spark
    from apache_druid_spark.model.datasource import register_testdata
    from apache_druid_spark.pipeline import dedup as dd
    from apache_druid_spark.pipeline import graph as gr

    cap = _RoundCapture()
    logging.getLogger("apache_druid_spark.pipeline.graph").addHandler(cap)
    logging.getLogger("apache_druid_spark.pipeline.graph").setLevel(
        logging.INFO)

    # get_spark disables the UI; the probe needs its REST API for
    # shuffle metrics
    spark = get_spark("dedup_chain_probe",
                      extra_conf={"spark.ui.enabled": "true"})
    reg = DatasourceRegistry(spark)
    register_testdata(reg, sf_dir)
    docs = amplify(reg.table("documents"), n, "doc_id").persist()
    n_docs = docs.count()

    report = {"n": n, "n_docs": n_docs}

    t0 = time.time()
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4).persist()
    n_pairs = pairs.count()
    report["minhash_pairs"] = {"rows": n_pairs,
                               "sec": round(time.time() - t0, 1)}

    t0 = time.time()
    comps = gr.connected_components(
        pairs, nodes=docs.select(F.col("doc_id").alias("node")),
        algorithm="star")
    n_comp = comps.select("component").distinct().count()
    report["components_star"] = {
        "distinct_components": n_comp,
        "rounds": cap.rounds,
        "sec": round(time.time() - t0, 1),
    }

    t0 = time.time()
    kept = gr.dedup_keep_representatives(docs, comps)
    n_kept = kept.count()
    report["keep_representatives"] = {"rows": n_kept,
                                      "sec": round(time.time() - t0, 1)}

    # the amplified near-dup graph is clique-like (replicas of one doc
    # pair densely), so star converges in ~1 round. Also pin the
    # ADVERSARIAL shape at the same n: a single n_docs-node path graph,
    # where min-label propagation would need n_docs rounds and the
    # O(log^2 n) claim actually bites.
    t0 = time.time()
    cap.rounds = None
    chain_edges = (spark.range(n_docs - 1)
                   .select(F.col("id").alias("id_a"),
                           (F.col("id") + 1).alias("id_b")))
    chain_comps = gr.connected_components(chain_edges, algorithm="star")
    n_chain_comp = chain_comps.select("component").distinct().count()
    report["path_graph_star"] = {
        "nodes": n_docs, "distinct_components": n_chain_comp,
        "rounds": cap.rounds, "sec": round(time.time() - t0, 1),
    }

    report["shuffle"] = _shuffle_stats()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
