"""r18 optimization-round regression pins.

Each test pins an equivalence or plan shape that an r18 optimization
relies on, so a future edit cannot silently change results while
keeping the fast shape (or vice versa).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# -- semantic_dedup prune="grouped" ≡ prune="expression" -----------------


def test_semdedup_grouped_prune_matches_expression(spark):
    """The declared semantic_dedup_embeddings query uses the grouped
    Arrow-matmul prune; it must be row-identical to the oracle-exact
    expression prune (both round to 6 dp before thresholding).
    Verified at r18 on sf0.001/0.01/0.1 and 10x-amplified data; this
    pins the smallest SF."""
    from apache_druid_spark.pipeline import semantic_dedup

    emb = _emb(spark)
    expr = {(r["vec_id"], r["cell"], r["is_kept"])
            for r in semantic_dedup(emb, dim=64, n_cells=16,
                                    threshold=0.35).collect()}
    grp = {(r["vec_id"], r["cell"], r["is_kept"])
           for r in semantic_dedup(emb, dim=64, n_cells=16,
                                   threshold=0.35,
                                   prune="grouped").collect()}
    assert expr == grp
    assert len(expr) == emb.count()


def test_semdedup_rejects_unknown_prune(spark):
    import pytest

    from apache_druid_spark.pipeline import semantic_dedup

    with pytest.raises(ValueError, match="prune"):
        semantic_dedup(_emb(spark), dim=64, prune="nope")


# -- jaccard window set-size ≡ groupBy+join-back sizes --------------------


def test_jaccard_window_sizes_match_joined_sizes(spark):
    """ngram_jaccard_pairs carries per-doc set sizes as a window count
    (r18); the output must equal the r17 groupBy+join-back form."""
    from apache_druid_spark.pipeline._util import (parallelize_scan,
                                                   staged_explode)
    from apache_druid_spark.pipeline.dedup import (_shingles, _tokens,
                                                   ngram_jaccard_pairs)

    docs = _docs(spark)
    new = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
           for r in ngram_jaccard_pairs(
               docs, shingle_k=5, threshold=0.2,
               max_shingle_freq=100).collect()}

    staged = parallelize_scan(docs).selectExpr(
        "doc_id", f"{_tokens('text')} AS __toks")
    posting = staged_explode(
        staged, ["doc_id"],
        f"array_distinct({_shingles('__toks', 5)})", "shingle",
    ).select(
        F.col("doc_id"),
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
         .cast("long").alias("h"))
    stop = (posting.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > 100).select("h"))
    sh = posting.join(F.broadcast(stop), "h", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (a.join(b, [F.col("a.h") == F.col("b.h"),
                         F.col("a.doc_id") < F.col("b.doc_id")])
              .groupBy(F.col("a.doc_id").alias("id_a"),
                       F.col("b.doc_id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("shared")))
    old = (shared.join(sizes.alias("sa"),
                       F.col("id_a") == F.col("sa.doc_id"))
           .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
           .select("id_a", "id_b",
                   (F.col("shared") / (F.col("sa.set_size")
                    + F.col("sb.set_size") - F.col("shared")))
                   .alias("jaccard"))
           .filter(F.col("jaccard") >= 0.2))
    old = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
           for r in old.collect()}
    assert new == old and len(new) > 0


# -- CC signature convergence ≡ changed-count convergence -----------------


def test_label_propagation_signature_convergence(spark):
    """The r18 union+groupBy-min rounds with (count, hash-sum)
    signature detection must produce the same fixed point as direct
    propagation, including on a graph needing several rounds (a
    chain)."""
    from apache_druid_spark.pipeline import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in
                                   (1, 2, 3, 4, 10, 11, 20, 99)],
                                  "node long")
    got = {(r["node"], r["component"])
           for r in connected_components(edges, nodes=nodes).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (20, 20), (99, 99)}


# -- dsir target_predicate ≡ two-pass target counts ------------------------


def test_dsir_target_predicate_matches_two_pass(spark):
    """The r18 flagged-gram conditional aggregate (one pass, no
    semi-join, no count join) is row-exact against the two-pass form,
    including a null-predicate row (lang null must count as
    non-target, matching filter()'s three-valued logic)."""
    from apache_druid_spark.pipeline import importance_weights

    docs = _docs(spark)
    extra = (docs.limit(1)
             .withColumn("doc_id", F.col("doc_id") + 100000)
             .withColumn("lang", F.lit(None).cast("string")))
    docs = docs.union(extra.select(docs.columns))
    tgt = docs.filter(F.col("lang") == "en")
    two_pass = {(r["doc_id"], r["n_grams"], r["weight"])
                for r in importance_weights(docs, tgt,
                                            n_buckets=512).collect()}
    flagged = {(r["doc_id"], r["n_grams"], r["weight"])
               for r in importance_weights(
                   docs, tgt, n_buckets=512,
                   target_predicate=F.col("lang") == "en").collect()}
    assert two_pass == flagged and len(flagged) > 0
