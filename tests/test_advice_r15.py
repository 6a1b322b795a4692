"""Regression tests for the round-14 advisor/judge findings
(ADVICE.md r14 + VERDICT.md r14 "What's wrong" #2-#3).

1. judge #2 — the r14 dot-product unroll built ~190 Column-API py4j
   round trips per query construction (~0.6 s of driver time, constant
   in data size): a 4x regression on small scans. Re-measurement
   showed the unrolled arithmetic itself also LOSES to the
   aggregate/zip_with fold at every scale on Spark 4.1.2 (SCALE.md
   r15), so _dot_literal/_dot_cols/_norm are now the HOF fold built as
   ONE SQL string through ONE F.expr call — same fold order as every
   prior form (value-identical), fastest measured, zero construction
   overhead.
2. medium — _hyper_unique_direct returned raw DataSketches binary state
   when finalize was absent while the scalar hyper_unique_* spellings
   model the collector as array<string>: an estimate post-agg on the
   unfinalized column was an analysis error (F.size(binary)) and an
   outer re-fold counted serialized sketches as values. Finalize-absent
   specs now keep the generic exact-set fold; the HLL rewrite applies
   exactly when the spec finalizes to an estimate. A BinaryType input
   field (stored sketch state) folds by UNION, not by re-sketching.
3. low — the unrolled dot/norm silently scored a PREFIX of an
   over-length vector where the old zip_with form null-padded and
   dropped it from the top-k. Restoring the zip_with fold restores
   those semantics by construction (pinned below).
4. low — _pq_encode_numpy crashed the task on a NULL or ragged
   embedding (np.stack over None), and pq_encode's struct-min resolved
   a NULL distance to code 0 (a silently wrong answer). Both paths now
   yield NULL codes for NULL/mis-dimensioned vectors and agree.
5. low + judge #3 — pq_fit died with an opaque TypeError on an empty
   input (first()[...] on None), and pq_fit/ivf_fit defaulted to
   fitting on the FULL corpus (localCheckpoint of 100 TB).
   sample_fraction=None now AUTO-derives a bounded sample
   (~256*ks / ~256*n_cells rows); empty inputs raise a named
   ValueError.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_druid_spark.operators.aggregations import (
    _hyper_unique_direct, compile_aggregations)
from apache_druid_spark.pipeline.similarity import (
    _dot_cols, _dot_literal, _fit_fraction, _norm, _pq_encode_numpy,
    cosine_topk, ivf_fit, pq_codebooks, pq_encode, pq_fit)


# -- 1: single-expr construction, measured-fastest form -------------------


def test_dot_literal_single_parse_value(spark):
    # one F.expr parse builds the whole fold (the r14 Column-API
    # version made ~190 py4j round trips per construction)
    col = _dot_literal("v", [1.0, 2.0, 3.0])
    df = spark.createDataFrame([([2.0, 0.5, 1.0],)], "v array<double>")
    got = df.select(col.alias("d")).first()["d"]
    assert got == pytest.approx(2.0 + 1.0 + 3.0)


def test_dot_literal_fold_order_matches_hof(spark):
    # same fold as the Column-built aggregate(): seed 0.0, ascending
    from apache_druid_spark.pipeline.similarity import _dot_literal_hof

    q = [0.123456, -0.654321, 0.999999, 1e-06]
    df = spark.createDataFrame(
        [([0.5, -0.25, 0.125, 0.0625],)], "v array<double>")
    a = df.select(_dot_literal("v", q).alias("d")).first()["d"]
    b = df.select(_dot_literal_hof(F.col("v"), q).alias("d")).first()["d"]
    assert a == b  # exact, not approx


def test_cosine_plan_keeps_hof_fold(spark):
    # r15 pin: controlled parquet A/Bs measured the aggregate/zip_with
    # fold FASTER than the r14 unrolled arithmetic at 2k AND 400k rows
    # on Spark 4.1.2 (SCALE.md r15) — the scoring path keeps the fold,
    # and stays out of Python
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id int, embedding array<double>")
    plan = cosine_topk(df, [1.0, 0.0], k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "aggregate(" in plan
    assert "EvalPython" not in plan


# -- 3: size guard = zip_with null-padding semantics ----------------------


def test_overlength_vector_nulls_out_of_topk(spark):
    # 3-element vector against a 2-dim query: the old zip_with form
    # returned NULL (dropped from the desc top-k); the r14 unroll scored
    # the [10, 10] prefix and would have WON the top-1
    df = spark.createDataFrame(
        [(1, [1.0, 0.9]), (2, [10.0, 10.0, 10.0]), (3, [0.5, 0.1])],
        "vec_id int, embedding array<double>")
    rows = cosine_topk(df, [1.0, 1.0], k=2).collect()
    assert [r["vec_id"] for r in rows] == [1, 3]
    assert all(r["cosine"] is not None for r in rows)


def test_short_vector_nulls_out(spark):
    df = spark.createDataFrame([([1.0],)], "v array<double>")
    got = df.select(_dot_literal("v", [1.0, 2.0]).alias("d")).first()["d"]
    assert got is None


def test_dot_cols_guards_both_sides(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<double>, b array<double>")
    got = df.select(_dot_cols("a", "b", 2).alias("d")).first()["d"]
    assert got is None
    ok = df.select(_dot_cols("a", "a", 2).alias("d")).first()["d"]
    assert ok == pytest.approx(5.0)


def test_norm_runs_over_actual_length(spark):
    # the norm folds the vector's real elements (no dim assumption);
    # mis-dimensioned rows are dropped by the DOT's null-padding
    # wherever a norm feeds a score (_rank_topk divides by it)
    df = spark.createDataFrame(
        [([3.0, 4.0],), ([3.0, 4.0, 12.0],)], "v array<double>")
    got = [r["n"] for r in
           df.select(_norm("v", 2).alias("n")).collect()]
    assert got[0] == pytest.approx(5.0)
    assert got[1] == pytest.approx(13.0)


# -- 4: pq encode paths agree on dirty rows -------------------------------


_DIRTY = [(1, [0.1] * 8), (2, None), (3, [0.1] * 5), (4, [0.2] * 12),
          (5, [-0.3] * 8)]


def test_pq_encode_expression_nulls_dirty_rows(spark):
    books = pq_codebooks(2, 4, 8)
    df = spark.createDataFrame(_DIRTY, "vec_id int, embedding array<double>")
    rows = {r["vec_id"]: r["codes"] for r in df.select(
        "vec_id", pq_encode("embedding", books).alias("codes"))
        .collect()}
    assert rows[2] is None and rows[3] is None and rows[4] is None
    assert rows[1] is not None and rows[5] is not None


def test_pq_encode_numpy_survives_and_matches_expression(spark):
    books = pq_codebooks(2, 4, 8)
    df = spark.createDataFrame(_DIRTY, "vec_id int, embedding array<double>")
    expr = {r["vec_id"]: r["codes"] for r in df.select(
        "vec_id", pq_encode("embedding", books).alias("codes"))
        .collect()}
    npy = {r["vec_id"]: r["__codes"] for r in
           _pq_encode_numpy(df, "embedding", "vec_id", books).collect()}
    assert expr == npy


def test_pq_encode_numpy_all_invalid_batch(spark):
    books = pq_codebooks(2, 4, 8)
    df = spark.createDataFrame(
        [(1, None), (2, [0.1] * 3)], "vec_id int, embedding array<double>")
    rows = _pq_encode_numpy(df, "embedding", "vec_id", books).collect()
    assert all(r["__codes"] is None for r in rows)


# -- 5: bounded-by-default fits + named empty-input error -----------------


def test_fit_fraction_auto_bounds_sample(spark):
    big = spark.range(100_000)
    frac = _fit_fraction(big, 256 * 16, None)
    # lands ~1.25x the 4096-row target out of 100k
    assert frac == pytest.approx(1.25 * 4096 / 100_000)
    # at-or-under target: no sampling needed
    small = spark.range(1000)
    assert _fit_fraction(small, 4096, None) is None
    # explicit override passes through; 1.0 forces full corpus
    assert _fit_fraction(big, 4096, 0.5) == 0.5
    assert _fit_fraction(big, 4096, 1.0) is None


def test_pq_fit_samples_by_default(spark, monkeypatch):
    # the KMeans input must be the bounded sample, not the corpus:
    # observe the fraction pq_fit resolves for an oversized input
    import apache_druid_spark.pipeline.similarity as sim

    seen = {}
    real = sim._fit_fraction

    def spy(df, target, frac):
        out = real(df, target, frac)
        seen["target"], seen["frac"] = target, out
        return out

    monkeypatch.setattr(sim, "_fit_fraction", spy)
    df = spark.range(0, 20_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") / 10.0
                  for i in range(8)]).alias("embedding"))
    books = sim.pq_fit(df, m=2, ks=4, max_iter=2)
    assert seen["target"] == 256 * 4
    assert seen["frac"] is not None and seen["frac"] < 0.1
    assert len(books) == 2 and all(len(b) == 4 for b in books)


def test_ivf_fit_samples_by_default(spark, monkeypatch):
    import apache_druid_spark.pipeline.similarity as sim

    seen = {}
    real = sim._fit_fraction

    def spy(df, target, frac):
        out = real(df, target, frac)
        seen["target"], seen["frac"] = target, out
        return out

    monkeypatch.setattr(sim, "_fit_fraction", spy)
    df = spark.range(0, 10_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") / 10.0
                  for i in range(4)]).alias("embedding"))
    cents = sim.ivf_fit(df, n_cells=4, max_iter=2)
    assert seen["target"] == 256 * 4
    assert seen["frac"] is not None and seen["frac"] < 0.2
    assert len(cents) == 4


def test_pq_fit_empty_input_raises_named_error(spark):
    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="no training vectors"):
        pq_fit(empty, m=2, ks=4)


# -- 2: hyper_unique rewrite gated on finalize; binary folds by union -----


_HU_BASE = {"type": "expression", "name": "uniq", "fields": ["tag"],
            "initialValue": "hyper_unique()",
            "fold": "hyper_unique_add(tag, __acc)"}


def test_unfinalized_fold_keeps_exact_set_representation(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "tag string")
    assert _hyper_unique_direct(dict(_HU_BASE), None, df) is None
    # end-to-end: the unfinalized collector is array<string>, so the
    # scalar hyper_unique_estimate spelling still applies to it
    agg = compile_aggregations([dict(_HU_BASE)], df=df)
    out = df.agg(*agg)
    assert out.schema["uniq"].dataType.simpleString() == "array<string>"
    est = out.select(F.size("uniq").cast("double").alias("e")).first()["e"]
    assert est == 2.0


def test_finalized_fold_still_rewrites_to_sketch(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "tag string")
    spec = dict(_HU_BASE, finalize="hyper_unique_estimate(o)")
    assert _hyper_unique_direct(spec, None, df) is not None
    got = df.agg(*compile_aggregations([spec], df=df)).first()["uniq"]
    assert got == pytest.approx(2.0, abs=0.1)


def test_binary_sketch_input_folds_by_union(spark):
    # stored COMPLEX sketch state re-aggregated through the expression
    # fold: union the sketches (3 groups x disjoint 40 users = 120),
    # never re-sketch the serialized bytes (which would estimate 3)
    rows = [(f"g{i % 3}", f"user-{i}") for i in range(120)]
    df = spark.createDataFrame(rows, "g string, u string")
    state = df.groupBy("g").agg(
        F.hll_sketch_agg(F.col("u"), 12).alias("st"))
    spec = {"type": "expression", "name": "uniq", "fields": ["st"],
            "initialValue": "hyper_unique()",
            "fold": "hyper_unique_add(st, __acc)",
            "finalize": "hyper_unique_estimate(o)"}
    got = state.agg(*compile_aggregations([spec], df=state)) \
        .first()["uniq"]
    assert got == pytest.approx(120.0, rel=0.05)


# -- 6 (VERDICT r14 task #7): scalar exact-set collector is capped ---------


def test_scalar_hyper_unique_small_sets_unchanged(spark):
    from apache_druid_spark.operators.expressions import compile_expression

    est = compile_expression(
        "hyper_unique_estimate(hyper_unique_add('b', "
        "hyper_unique_add('a', hyper_unique())))", None)
    assert spark.range(1).select(est.alias("e")).first()["e"] == 2.0


def test_scalar_hyper_unique_add_overflow_raises(spark):
    # force the cap branch with a pre-built 65536-element accumulator:
    # one more DISTINCT value must fail loud with the aggregator remedy
    from apache_druid_spark.operators.expressions import compile_expression

    acc = {"acc": "transform(sequence(1, 65536), i -> CAST(i AS STRING))"}
    # re-adding an EXISTING value at cap is a no-op, not an error
    ok = spark.range(1).select(F.size(compile_expression(
        "hyper_unique_add('42', acc)", env=acc)).alias("s")).first()["s"]
    assert ok == 65536
    with pytest.raises(Exception, match="exceeded 65536"):
        spark.range(1).select(F.size(compile_expression(
            "hyper_unique_add('brand-new', acc)", env=acc)).alias("s")
        ).collect()
