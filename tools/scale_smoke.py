"""Scale-up smoke: run the heavy pipeline operators on N-times-amplified
synthetic data and print per-op seconds at 1x and Nx.

The point is the RATIO: a bucket-blocked design should scale roughly
linearly in rows (candidate pairs grow with collisions, not |docs|^2);
anything super-linear here would be a red flag for the 100 TB target.

Amplification cross-joins each row with a replica index and perturbs
the id so replicas are distinct documents/vectors (no artificial exact
dups beyond the natural rate).

Usage: python tools/scale_smoke.py [N]
       python tools/scale_smoke.py --recall [rows]

--recall (VERDICT r14 task #5): measures PQ and IVF-PQ recall@10
against exact cosine on >= 100k DISTINCT synthetic vectors (the
amplifier path replicates vectors identically, which degenerates
recall), with fitted codebooks/centroids — the production
configuration, not the md5 oracle literals. Vectors are a
deterministic mixture around 32 md5 centers + hash noise, so clusters
exist for IVF to find and the run is reproducible.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def amplify(df, n: int, id_col: str):
    if n <= 1:
        return df
    replicas = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("__rep")
    out = df.select("*", replicas)
    # distinct ids per replica; shift text/embedding identity is kept —
    # near-dup rates scale with the data like a real crawl re-crawl
    return (out.withColumn(id_col,
                           F.col(id_col).cast("long")
                           + F.col("__rep").cast("long") * F.lit(10 ** 9))
               .drop("__rep"))


def synth_vectors(spark, rows: int, dim: int = 64, n_clusters: int = 32):
    """``rows`` distinct vectors as a deterministic Gaussian-ish
    mixture: center = md5 literal per cluster, noise = Spark hash()
    of (id, component) scaled to [-0.3, 0.3). Pure codegen
    expressions — generation parallelizes like any scan."""
    from apache_druid_spark.pipeline.similarity import ivf_centroids

    centers = ivf_centroids(n_clusters, dim)
    cluster = F.pmod(F.col("id"), F.lit(n_clusters))
    comps = []
    for d in range(dim):
        center_d = F.element_at(
            F.array(*[F.lit(c[d]) for c in centers]),
            (cluster + 1).cast("int"))
        # noise at the same scale as the centers: tighter clusters
        # collapse whole cells onto ONE pq code (ADC then ties and
        # recall measures the vec_id tie-break, not the index —
        # measured 0.12 with 0.3x noise)
        noise = F.hash(F.col("id") * dim + d) / F.lit(2.0 ** 31)
        comps.append(center_d + noise)
    return spark.range(rows).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding"))


def recall_main(rows: int) -> int:
    """Measured ANN recall@10 vs exact cosine at >= 100k distinct
    vectors, fitted codebooks/centroids (VERDICT r14 task #5)."""
    from apache_druid_spark import get_spark
    from apache_druid_spark.pipeline import similarity as sim

    spark = get_spark("ann_recall")
    vecs = synth_vectors(spark, rows)
    # materialize once: fit + every query scans the same cached table
    vecs = vecs.localCheckpoint()

    # queries = actual data vectors (guaranteed meaningful neighbors)
    qrows = vecs.filter(F.col("vec_id") < 5).collect()
    queries = [[float(x) for x in r["embedding"]] for r in qrows]

    t0 = time.time()
    books = sim.pq_fit(vecs, m=8, ks=16)       # auto-sampled (~4k rows)
    cents = sim.ivf_fit(vecs, n_cells=16)      # auto-sampled
    fit_s = round(time.time() - t0, 1)

    def topk_ids(df):
        return [r["vec_id"] for r in df.collect()]

    report = {"rows": rows, "fit_sec": fit_s, "queries": len(queries),
              "recall_at_10": {}, "sec_per_query": {}}
    variants = {
        "exact_cosine": lambda q: sim.cosine_topk(vecs, q, k=10),
        # DEFAULTS (VERDICT r15 task #5): rerank="auto" resolves
        # max(1000, 1% of candidates) — the gated production setting
        "pq_auto_default": lambda q: sim.pq_topk(
            vecs, q, k=10, codebooks=books, encode="numpy"),
        "ivfpq_probe4_auto_default": lambda q: sim.ivfpq_topk(
            vecs, q, k=10, n_probe=4, centroids=cents, codebooks=books,
            encode="numpy"),
        # explicit thin budget, kept to DOCUMENT the cliff the auto
        # default defends against
        "pq_rerank100": lambda q: sim.pq_topk(
            vecs, q, k=10, codebooks=books, rerank=100, encode="numpy"),
        "ivf_probe4": lambda q: sim.ivf_topk(
            vecs, q, k=10, n_probe=4, centroids=cents),
    }
    exact = {}
    for name, fn in variants.items():
        hits, secs = 0, []
        for qi, q in enumerate(queries):
            t0 = time.time()
            ids = topk_ids(fn(q))
            secs.append(time.time() - t0)
            if name == "exact_cosine":
                exact[qi] = set(ids)
            else:
                hits += len(exact[qi] & set(ids))
        report["sec_per_query"][name] = round(sum(secs) / len(secs), 2)
        if name != "exact_cosine":
            report["recall_at_10"][name] = round(
                hits / (10 * len(queries)), 3)
        print(f"{name}: {report['sec_per_query'][name]}s/query",
              file=sys.stderr)
    print(json.dumps(report))
    # the gate (VERDICT r15 task #5): DEFAULT settings must hold
    # recall@10 >= 0.8 at this scale — a failing default is a bug,
    # not a tuning choice
    failed = {n: r for n, r in report["recall_at_10"].items()
              if n.endswith("auto_default") and r < 0.8}
    if failed:
        print(f"RECALL GATE FAILED (defaults must be >= 0.8): "
              f"{failed}", file=sys.stderr)
        return 1
    return 0


def salt_tokens(df, n: int, id_col: str, text_col: str = "text"):
    """N-times amplification that keeps the near-duplicate RATE
    constant (VERDICT r15 task #2): every token of replica r is
    suffixed with r, so replicas share ZERO shingles — each replica
    set is a fresh corpus with the same token statistics, and
    pair-bound work (LSH buckets, posting lists, verify pairs) grows
    LINEARLY with rows like a real crawl. The plain ``amplify``
    clones text 100x identical, which grows true near-dup pairs
    ~N^2 and measures output growth, not plan shape (the r13 10x
    postmortem)."""
    if n <= 1:
        return df
    out = df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("__rep"))
    return (out
            .withColumn(id_col, F.col(id_col).cast("long")
                        + F.col("__rep").cast("long") * F.lit(10 ** 9))
            .withColumn(text_col, F.array_join(F.transform(
                F.split(F.col(text_col), " "),
                lambda w: F.concat(w, F.lit("§"),
                                   F.col("__rep").cast("string"))), " "))
            .drop("__rep"))


def engine_main(n: int) -> int:
    """VERDICT r15 task #2: the 100x smoke for the HEADLINE ENGINE
    query shapes (timeseries / groupBy / scan / topN-style join) over
    N-times-amplified TPC-H facts (dims stay fixed — broadcast sides
    don't grow with the corpus), plus the scale-path pipeline ops the
    verdict names (pq_topk numpy, ngram_jaccard, exact_dedup,
    leakage_safe_split) over token-salted amplification. Prints one
    JSON line with x1/xN seconds, ratio, and the 1-min load recorded
    at each timed run (load attribution, same rationale as bench.py)."""
    from apache_druid_spark import DatasourceRegistry, get_spark
    from apache_druid_spark.model.datasource import register_testdata
    from apache_druid_spark.pipeline import (
        dedup as dd, graph as gr, sampling as sp, similarity as sim,
    )
    from apache_druid_spark.plans.compiler import compile_query

    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark("engine_scale_smoke")
    base = DatasourceRegistry(spark)
    register_testdata(base, sf_dir)
    docs, emb = base.table("documents"), base.table("embeddings")

    def reg_at(scale: int) -> DatasourceRegistry:
        r = DatasourceRegistry(spark)
        register_testdata(r, sf_dir)
        if scale > 1:
            r.register("lineitem",
                       amplify(base.table("lineitem"), scale,
                               "l_orderkey"), "l_shipdate")
            r.register("orders",
                       amplify(base.table("orders"), scale,
                               "o_orderkey"), "o_orderdate")
        return r

    regs = {1: reg_at(1), n: reg_at(n)}

    def q_timeseries(s):
        return compile_query({
            "queryType": "timeseries", "dataSource": "lineitem",
            "granularity": "month",
            "intervals": ["1000/3000"],
            "aggregations": [
                {"type": "doubleSum", "name": "revenue",
                 "fieldName": "l_extendedprice"},
                {"type": "count", "name": "cnt"}],
        }, regs[s])

    def q_groupby(s):
        return compile_query({
            "queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all",
            "dimensions": ["l_returnflag", "l_linestatus"],
            "aggregations": [
                {"type": "doubleSum", "name": "sum_qty",
                 "fieldName": "l_quantity"},
                {"type": "doubleSum", "name": "sum_price",
                 "fieldName": "l_extendedprice"},
                {"type": "count", "name": "cnt"}],
        }, regs[s])

    def q_scan(s):
        return compile_query({
            "queryType": "scan", "dataSource": "orders",
            "columns": ["o_orderkey", "o_orderstatus", "o_totalprice"],
            "filter": {"type": "bound", "dimension": "o_totalprice",
                       "lower": "400000", "ordering": "numeric"},
            "orderBy": [{"columnName": "o_orderkey",
                         "order": "ascending"}],
            "offset": 5, "limit": 50,
        }, regs[s])

    def q_join(s):
        return compile_query({
            "queryType": "groupBy",
            "dataSource": {
                "type": "join", "left": "orders", "right": "customer",
                "rightPrefix": "j0.",
                "condition": '"o_custkey" == "j0.c_custkey"',
                "joinType": "INNER"},
            "granularity": "all",
            "dimensions": [{"type": "default",
                            "dimension": "j0.c_mktsegment",
                            "outputName": "mktsegment"}],
            "aggregations": [
                {"type": "doubleSum", "name": "revenue",
                 "fieldName": "o_totalprice"},
                {"type": "count", "name": "cnt"}],
        }, regs[s])

    def p_exact_dedup(s):
        return dd.exact_dedup(salt_tokens(docs, s, "doc_id"))

    def p_ngram_jaccard(s):
        return dd.ngram_jaccard_pairs(
            salt_tokens(docs, s, "doc_id"), shingle_k=5, threshold=0.2,
            max_shingle_freq=100 * s)

    def p_leakage_split(s):
        d = salt_tokens(docs, s, "doc_id")
        return sp.leakage_safe_split(d, gr.connected_components(
            dd.minhash_lsh_pairs(d, num_hashes=16, bands=4),
            nodes=d.select(F.col("doc_id").alias("node"))))

    def p_pq_topk(s):
        return sim.pq_topk(amplify(emb, s, "vec_id"), [1.0] * 64,
                           k=10, rerank=None, encode="numpy")

    # legacy-HLLC base (r16 verdict #7): REAL HyperLogLogCollector
    # wire blobs, row count amplified — exercises the Arrow fold +
    # floor-key join-back at scale. Distinct counts per group stay
    # fixed under replication; the wall-clock axis is ROWS FOLDED.
    from apache_druid_spark.ingest.hllc import collector_of

    legacy_rows = [
        (g, f"et{g % 20}",
         bytearray(collector_of(
             [f"g{g}-u{i}" for i in range(20)]).to_bytes()))
        for g in range(500)]
    legacy_base = spark.createDataFrame(
        legacy_rows, "id long, event_type string, uniq_state binary"
    ).withColumn("__time", F.to_timestamp(F.lit("2001-01-01"))
                 + F.make_interval(days=(F.col("id") % 30)
                                   .cast("int")))

    def legacy_reg(scale: int) -> DatasourceRegistry:
        r = DatasourceRegistry(spark)
        r.register("legacy_seg",
                   amplify(legacy_base, scale, "id"))
        return r

    legacy_regs = {1: legacy_reg(1), n: legacy_reg(n)}

    def q_legacy_ts(s):
        return compile_query({
            "queryType": "timeseries", "dataSource": "legacy_seg",
            "granularity": "week", "intervals": ["1000/3000"],
            "aggregations": [
                {"type": "count", "name": "rows"},
                {"type": "hyperUnique", "name": "uniq",
                 "fieldName": "uniq_state", "legacy": True}],
        }, legacy_regs[s])

    def q_legacy_topn(s):
        return compile_query({
            "queryType": "topN", "dataSource": "legacy_seg",
            "granularity": "all", "intervals": ["1000/3000"],
            "dimension": "event_type", "metric": "uniq",
            "threshold": 8,
            "aggregations": [
                {"type": "hyperUnique", "name": "uniq",
                 "fieldName": "uniq_state", "legacy": True}],
        }, legacy_regs[s])

    # multi-container segment scan (r16 verdict #7): one 100k-row v9
    # container scanned 1× vs n× paths — one segment per task, so the
    # axis is TASK THROUGHPUT on 32 threads (ideal ratio n/32)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import segment_bench as _segb

    from apache_druid_spark.ingest.segment import scan_segments
    from apache_druid_spark.session import scratch_dir

    seg_dir = os.path.join(scratch_dir("scale_seg_"), "seg")
    _segb.build_container(seg_dir, 100_000)

    def p_segment_scan(s):
        return scan_segments(spark, [seg_dir] * s)

    ops = {
        "engine_timeseries_month": q_timeseries,
        "engine_groupby_2dim": q_groupby,
        "engine_scan_filter_limit": q_scan,
        "engine_join_orders_customers": q_join,
        "engine_legacy_hllc_timeseries": q_legacy_ts,
        "engine_legacy_hllc_topn": q_legacy_topn,
        "engine_segment_scan_containers": p_segment_scan,
        "pipeline_exact_dedup": p_exact_dedup,
        "pipeline_ngram_jaccard": p_ngram_jaccard,
        "pipeline_leakage_safe_split": p_leakage_split,
        "pipeline_pq_topk_numpy": p_pq_topk,
    }
    report = {"n": n, "nproc": os.cpu_count(), "ops": {}}
    for name, fn in ops.items():
        spark.catalog.clearCache()
        fn(1).write.format("noop").mode("overwrite").save()  # warmup
        times = {}
        for scale in (1, n):
            load = round(os.getloadavg()[0], 1)
            t0 = time.time()
            fn(scale).write.format("noop").mode("overwrite").save()
            times[f"x{scale}"] = round(time.time() - t0, 3)
            times[f"load_x{scale}"] = load
        times["ratio"] = round(times[f"x{n}"] / max(times["x1"], 1e-9),
                               2)
        report["ops"][name] = times
        print(f"{name}: {times}", file=sys.stderr)
    print(json.dumps(report))
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--recall":
        return recall_main(int(sys.argv[2]) if len(sys.argv) > 2
                           else 100_000)
    if len(sys.argv) > 1 and sys.argv[1] == "--engine":
        return engine_main(int(sys.argv[2]) if len(sys.argv) > 2
                           else 100)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = "/root/testdata/sf0.1"

    from apache_druid_spark import DatasourceRegistry, get_spark
    from apache_druid_spark.model.datasource import register_testdata
    from apache_druid_spark.pipeline import (
        decontam as dc, dedup as dd, graph as gr, importance as imp,
        sampling as sp, semdedup as sd, similarity as sim, text as tx,
    )

    spark = get_spark("scale_smoke")
    reg = DatasourceRegistry(spark)
    register_testdata(reg, sf_dir)
    docs = reg.table("documents")
    emb = reg.table("embeddings")

    # the shingle-frequency cap is a data-size-relative knob: scale it
    # with the corpus so stop-shingle semantics match across scales
    ops = {
        "exact_dedup": lambda d, s: dd.exact_dedup(d),
        "minhash_lsh": lambda d, s: dd.minhash_lsh_pairs(d, num_hashes=16,
                                                         bands=4),
        "simhash": lambda d, s: dd.simhash(d),
        "ngram_jaccard": lambda d, s: dd.ngram_jaccard_pairs(
            d, shingle_k=5, threshold=0.2, max_shingle_freq=100 * s),
        "connected_components": lambda d, s: gr.connected_components(
            dd.minhash_lsh_pairs(d, num_hashes=16, bands=4),
            nodes=d.select(F.col("doc_id").alias("node"))),
        "connected_components_star": lambda d, s: gr.connected_components(
            dd.minhash_lsh_pairs(d, num_hashes=16, bands=4),
            nodes=d.select(F.col("doc_id").alias("node")),
            algorithm="star"),
        "doc_chunks": lambda d, s: tx.chunk_documents(d),
        # test set stays FIXED as the corpus grows (benchmarks don't
        # scale with the crawl) — the op should be linear in train rows
        "decontaminate": lambda d, s: dc.contamination_report(
            d, docs.filter(F.col("doc_id") % 20 == 0), ngram=8),
        # target corpus stays FIXED (same rationale as decontaminate);
        # weights should be linear in raw gram occurrences
        "dsir_weights": lambda d, s: imp.importance_weights(
            d, docs.filter(F.col("lang") == "en"), n_buckets=1024),
        "top_ngrams": lambda d, s: tx.top_ngrams(d, ngram=3, k=20),
        # fp doc-frequency cap is corpus-size-relative, like ngram's
        "substring_overlap": lambda d, s: tx.winnowing_overlap_pairs(
            d, k=16, window=8, min_shared=3, max_fp_freq=50 * s),
        # exact verify over LSH candidates: cost tracks pair count
        # (amplifier replicas pair quadratically — output-bound, like
        # minhash itself), never corpus^2. The 20% bound engages the
        # banded DP + equality short-circuit (the realistic setting;
        # bound=100% degenerates to full O(L^2) per pair)
        "edit_distance": lambda d, s: dd.edit_distance_verify(
            d, dd.minhash_lsh_pairs(d, num_hashes=16, bands=4),
            max_rel_bp=2000),
        "tfidf_top_terms": lambda d, s: tx.tfidf_top_terms(d, top_k=5),
        "mixture_weights": lambda d, s: sp.mixture_weights(
            d, {"en": 0.5, "zh": 0.2, "de": 0.1, "es": 0.1, "fr": 0.1}),
        # fused scan projections — should be purely linear
        "gopher_rules": lambda d, s: tx.gopher_rules(d),
        "c4_filters": lambda d, s: tx.c4_filters(d),
        # cluster-pure split: CC over the pair graph + AQE-picked join
        # against the duplicate-member minority (r14: no forced
        # broadcast — dup_members is input-proportional, so the hint
        # was a 100 TB scale-killer) + hash gate
        "leakage_safe_split": lambda d, s: sp.leakage_safe_split(
            d, gr.connected_components(
                dd.minhash_lsh_pairs(d, num_hashes=16, bands=4),
                nodes=d.select(F.col("doc_id").alias("node")))),
        # CCNet unigram LM scoring under the r14 vocab cap: the count
        # table is bounded (top-K + OOV bucket), so the join side is
        # constant-size as the corpus grows — scoring linear in tokens
        "unigram_logprob_capped": lambda d, s: imp.unigram_logprob(
            d, max_vocab=2000),
    }
    emb_ops = {
        "cosine_topk": lambda e, s: sim.cosine_topk(e, [1.0] * 64, k=10),
        "ivf_topk": lambda e, s: sim.ivf_topk(e, [1.0] * 64, k=10),
        # PQ/ADC compressed-domain scan + bounded exact refine — one
        # TakeOrdered reduce, cost linear in rows (md5 codebooks here:
        # the smoke measures plan shape, not recall; numpy encode is
        # the scale path — the expression encode exists for
        # bit-reproducibility and measured ~6x slower interpreted)
        "pq_topk": lambda e, s: sim.pq_topk(e, [1.0] * 64, k=10,
                                            rerank=100,
                                            encode="numpy"),
        "embedding_pairs": lambda e, s: dd.embedding_cosine_pairs(
            e, dim=64, threshold=0.35, bits=8, tables=2),
        # the paper's scale knob is the CLUSTER COUNT (∝ corpus size;
        # SemDeDup uses ~100k clusters at web scale) — per-cell
        # population stays constant, so within-cell CANDIDATE work
        # stays linear (the amplifier's identical replicas still land
        # in one cell and pair quadratically — output-bound, like
        # embedding_pairs). Past a few dozen cells the assignment
        # switches to the broadcast centroid-table path.
        "semantic_dedup": lambda e, s: sd.semantic_dedup(
            e, dim=64, threshold=0.35,
            centroid_table=_centroid_df(e.sparkSession, 16 * s)),
    }

    def _centroid_df(sess, k):
        cents = sim.ivf_centroids(k, 64)
        return sess.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell: int, centroid: array<double>")

    report = {"n": n, "ops": {}}
    for name, fn in list(ops.items()) + list(emb_ops.items()):
        src, idc = (docs, "doc_id") if name in ops else (emb, "vec_id")
        times = {}
        fn(src, 1).write.format("noop").mode("overwrite").save()  # warmup
        for scale in (1, n):
            d = amplify(src, scale, idc)
            t0 = time.time()
            fn(d, scale).write.format("noop").mode("overwrite").save()
            times[f"x{scale}"] = round(time.time() - t0, 3)
        times["ratio"] = round(times[f"x{n}"] / max(times["x1"], 1e-9), 2)
        report["ops"][name] = times
        print(f"{name}: {times}", file=sys.stderr)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
