"""SemDeDup: semantic deduplication over embedding columns.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (arXiv:2303.09540): cluster embeddings with
k-means, then inside each cluster drop all but one of every group of
semantically-near-identical points (cosine above a tight threshold).
Unlike lexical dedup (minhash/simhash on tokens) this removes
*paraphrase*-level duplicates that share no n-grams.

Spark-first shape (100 TB):

- Cluster assignment is ONE codegen scan — argmax of dot(vec, centroid)
  over literal centroids (``similarity.ivf_assign``, the same cell
  machinery as IVF ANN). Deterministic md5 centroids make the operator
  oracle-reproducible; at corpus scale the centroids come from
  ``similarity.ivf_fit`` (MLlib KMeans on an ingest-time sample) and
  the cell id is materialized at ingest, clustering the table so the
  within-cell self-join below is co-partitioned.
- The within-cluster pair search is a self-join blocked on the cell id
  — work scales with cell populations (~n^2/n_cells per cell in
  expectation), never |corpus|^2; the SemDeDup paper's whole point is
  that k-means blocking makes web-scale pairwise dedup tractable.
- Degenerate cells (a pile of identical embeddings) are dropped by a
  vector-free (cell) count broadcast as a LEFT ANTI join, exactly like
  ``embedding_cosine_pairs``'s bucket cap: byte-identical duplicates
  are exact_dedup's job, not pair expansion's.
- Keep rule: within every near-dup pair (a < b) drop b — the greedy
  min-id representative. (The paper keeps the point with LOWEST cosine
  to the centroid; min-id is a deterministic, engine-reproducible
  stand-in with the same dedup ratio — documented divergence.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_druid_spark.pipeline._util import parallelize_scan


def assign_cells(df: DataFrame, centroids: DataFrame,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 out_col: str = "__cell") -> DataFrame:
    """Nearest-centroid assignment against a centroid *DataFrame*
    ``(cell int, centroid array<double>)`` — the scale path.

    ``similarity.ivf_assign`` inlines every centroid as a literal
    expression: perfect for oracle determinism at tens of cells, but
    the codegen expression grows with n_cells and the paper-scale
    SemDeDup configuration (~100k clusters) would not even compile.

    This variant is an Arrow-batched pandas UDF doing ONE numpy
    ``(batch x dim) @ (dim x cells)`` matmul per batch — deliberately
    Python, and the only row-path Python outside the multimodal codec
    stubs. The expression alternatives were measured and rejected:
    Catalyst evaluates higher-order functions interpreted per element
    (a broadcast-join + HOF-dot argmax took 37 s for 20k rows x 160
    cells where the matmul takes well under a second), and a literal
    expression does not scale past a few hundred cells. The centroid
    table is collected once at plan time (small by construction —
    100k x 64 doubles ~ 50 MB) and ships as a Spark BROADCAST variable
    (r18, guide §4.5): the UDF closure pickles only the handle, each
    executor fetches the matrix once and reused Python workers keep it
    across tasks — the pre-r18 closure capture re-deserialized ~50 MB
    per TASK at paper scale. Exactly like FAISS loads its coarse
    quantizer onto every worker. No shuffle at all: assignment happens
    where the rows live. Tie-break (score DESC, cell DESC) matches
    ivf_assign."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rows = centroids.select("cell", "centroid").collect()
    cell_ids = np.array([r["cell"] for r in rows], dtype=np.int64)
    cmat = np.array([r["centroid"] for r in rows], dtype=np.float64)
    norms = np.sqrt((cmat * cmat).sum(axis=1))
    norms[norms == 0.0] = 1.0
    scoremat = (cmat / norms[:, None]).T  # (dim, cells)
    # order columns by cell id so the ties-to-last trick below breaks
    # ties toward the HIGHEST cell id, mirroring ivf_assign's
    # array_max over (score, cell) structs
    order = np.argsort(cell_ids)
    cell_ids = cell_ids[order]
    scoremat = scoremat[:, order]
    bc = df.sparkSession.sparkContext.broadcast((cell_ids, scoremat))

    def _assign_batch(vecs):
        ids, mat = bc.value
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        scores = v @ mat
        # np.argmax takes the FIRST max; flipping columns makes it the
        # last (= highest cell id), matching the struct-max tie-break
        flipped = scores[:, ::-1]
        idx = scores.shape[1] - 1 - np.argmax(flipped, axis=1)
        return pd.Series(ids[idx])

    _assign = pandas_udf(_assign_batch, "int")

    return df.select(F.col(id_col), F.col(vec_col),
                     _assign(F.col(vec_col)).alias(out_col))


def semantic_dedup(df: DataFrame, dim: int, n_cells: int = 16,
                   threshold: float = 0.9, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   centroids: list[list[float]] | None = None,
                   centroid_table: DataFrame | None = None,
                   max_cell_size: int = 10000,
                   round_to: int | None = 6,
                   prune: str = "expression") -> DataFrame:
    """(id, cell, is_kept) for every row: ``is_kept`` is False iff the
    row has a within-cell neighbor with cosine >= ``threshold`` and a
    smaller id. ``df.join(result.filter('is_kept'), id)`` is the
    deduplicated corpus.

    Literal centroids (the default, or ``centroids=[[...], ...]``) keep
    the assignment a single codegen scan — right up to a few hundred
    cells and exactly reproducible by the oracle. Past that (SemDeDup's
    web-scale configuration is ~100k clusters from ``ivf_fit``), pass
    ``centroid_table`` — a ``(cell int, centroid array<double>)``
    DataFrame — and the whole operator switches to the scale mode:
    assignment goes through ``assign_cells``'s numpy matmul, and the
    within-cell prune becomes ONE Arrow group batch per cell with a
    single normalized ``(p x dim) @ (dim x p)`` matmul (the SemDeDup
    reference implementation's own shape — per-cluster similarity
    matrix on one worker, bounded by ``max_cell_size``).

    ``prune`` picks the within-cell pass for the literal-centroid
    path: ``"expression"`` (default) is the per-pair HOF-dot
    self-join — UDF-free, but Catalyst evaluates the folds
    interpreted at ~13 µs/pair, which turns into a cliff when cells
    carry real collision load (r18 measurement: 192 s vs 8 s at 10x
    amplified density); ``"grouped"`` runs the SAME
    ``_prune_cells_grouped`` Arrow matmul the scale mode uses. Both
    round to 6 dp before thresholding and produce IDENTICAL outputs —
    equivalence verified row-exact on sf0.001/sf0.01/sf0.1 and the
    10x-amplified set (tests/test_advice_r18.py pins it)."""
    from apache_druid_spark.pipeline.similarity import (
        _dot_cols, _norm, ivf_assign)
    from apache_druid_spark.plans.timeout import persist

    if prune not in ("expression", "grouped"):
        raise ValueError(f"prune must be 'expression' or 'grouped', "
                         f"got {prune!r}")
    base = parallelize_scan(df).select(F.col(id_col), F.col(vec_col))
    if centroid_table is not None:
        assigned = assign_cells(base, centroid_table, vec_col, id_col)
        return _prune_cells_grouped(assigned, threshold, vec_col,
                                    id_col, max_cell_size, round_to)
    if centroids is None:
        from apache_druid_spark.pipeline.similarity import ivf_centroids

        centroids = ivf_centroids(n_cells, dim)
    assigned = base.select(
        F.col(id_col), F.col(vec_col),
        ivf_assign(f"`{vec_col}`", centroids).alias("__cell"))
    if prune == "grouped":
        return _prune_cells_grouped(assigned, threshold, vec_col,
                                    id_col, max_cell_size, round_to)
    # one scan: cell argmax + norm; persisted because it feeds the cap
    # aggregate and both self-join sides (ingest-materialized at 100 TB)
    cells = persist(assigned.select(
        F.col(id_col), F.col(vec_col), F.col("__cell"),
        _norm(f"`{vec_col}`", dim).alias("__nrm"),
    ))
    oversized = (cells.groupBy("__cell")
                 .agg(F.count(F.lit(1)).alias("__csz"))
                 .filter(F.col("__csz") > max_cell_size)
                 .select("__cell"))
    blocked = cells.join(F.broadcast(oversized), "__cell", "left_anti")
    a, b = blocked.alias("a"), blocked.alias("b")
    # zip_with fold over the pair — measured faster than the r14
    # unrolled arithmetic at every scale on Spark 4.1.2 (SCALE.md r15;
    # similarity._dot_cols keeps the same fold order, so values are
    # identical), and mismatched vector lengths null out via padding
    dot = _dot_cols(f"a.`{vec_col}`", f"b.`{vec_col}`", dim)
    cosine = dot / (F.col("a.__nrm") * F.col("b.__nrm"))
    if round_to is not None:
        cosine = F.round(cosine, round_to)
    # every id that has a smaller-id near-dup in its cell gets dropped
    dropped = (a.join(b, [F.col("a.__cell") == F.col("b.__cell"),
                          F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
               .filter(cosine >= threshold)
               .select(F.col(f"b.{id_col}").alias(id_col))
               .distinct())
    return (cells.select(id_col, F.col("__cell").alias("cell"))
            .join(dropped.withColumn("__drop", F.lit(True)),
                  id_col, "left")
            .select(id_col, "cell",
                    F.coalesce(~F.col("__drop"), F.lit(True))
                    .alias("is_kept")))


def _prune_cells_grouped(assigned: DataFrame, threshold: float,
                         vec_col: str, id_col: str,
                         max_cell_size: int,
                         round_to: int | None = 6) -> DataFrame:
    """Scale-mode within-cell prune: one shuffle on the cell id, then
    one Arrow batch per cell — normalize, one p x p cosine matmul,
    drop every row with a smaller-id neighbor >= threshold. Cells past
    ``max_cell_size`` are passed through un-pruned (identical vectors
    are exact_dedup's job), mirroring the expression path's cap, and
    the memory bound per task is max_cell_size^2 doubles."""
    import numpy as np
    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["__cell"].iloc[0])
        ids = pdf[id_col].to_numpy()
        if len(pdf) > max_cell_size or len(pdf) < 2:
            return pd.DataFrame(
                {id_col: ids, "cell": cell, "is_kept": True})
        order = np.argsort(ids)
        ids = ids[order]
        v = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
        n = np.sqrt((v * v).sum(axis=1))
        n[n == 0.0] = 1.0
        sims = (v / n[:, None]) @ (v / n[:, None]).T
        if round_to is not None:
            sims = np.round(sims, round_to)
        near = sims >= threshold
        # row j dropped iff any i < j is near (ids sorted ascending)
        dropped = np.triu(near, k=1).any(axis=0)
        return pd.DataFrame(
            {id_col: ids, "cell": cell, "is_kept": ~dropped})

    return (assigned.groupBy("__cell")
            .applyInPandas(prune,
                           f"{id_col} long, cell int, is_kept boolean"))
