"""Benchmark decontamination: flag training documents that share
n-gram overlap with an evaluation/test set.

The standard LLM-training hygiene pass (the reference engine has no
analog — this extends the engine for training-data pipelines, like the
dedup family): any train document containing an n-gram that also
appears in the held-out set is contamination and must be dropped or
audited before training.

Shape at scale (100 TB train corpus vs a benchmark suite):

- Both sides shingle to k-token n-grams hashed to 60-bit md5 prefixes
  — the join key is an 8-byte long, never the n-gram text.
- The test-set n-gram vocabulary is TINY by construction (benchmarks
  are thousands of documents, not billions), so its DISTINCT grams
  broadcast: the contamination check is ONE broadcast LEFT OUTER join
  of the train grams against that vocabulary (r17 shape) — the train
  corpus shingles once, never shuffles for the check, and each gram
  carries a hit marker. ``broadcast_test=False`` falls back to a
  shuffle join for the rare train-vs-train audit.
- The per-doc report is one partial/final aggregate keyed on doc id
  computing n_ngrams = count(1) and n_contaminated = count(marker)
  together — the join output's only shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_druid_spark.pipeline._util import (
    ident, md5_long, parallelize_scan, staged_explode,
)
from apache_druid_spark.pipeline.dedup import _shingles, _tokens


def _gram_hashes(df: DataFrame, text_col: str, id_col: str | None,
                 ngram: int) -> DataFrame:
    """Distinct (id?, h) rows: 60-bit md5-prefix hashes of k-token
    n-grams (same hash family as ngram_jaccard_pairs — 2^-60
    collisions are far below any contamination noise floor)."""
    cols = [id_col] if id_col else []
    staged = parallelize_scan(df).selectExpr(
        # stage tokens first — see _shingles docstring (O(n^2) otherwise)
        *[ident(c) for c in cols], f"{_tokens(text_col)} AS __toks")
    # staged_explode: shingle array evaluated once per row, no inferred
    # filter duplicating the tree (see _util.guarded_explode)
    return (staged_explode(
        staged, cols, f"array_distinct({_shingles('__toks', ngram)})",
        "__gram")
        .selectExpr(*[ident(c) for c in cols],
                    f"{md5_long('__gram', 15)} AS h"))


def contamination_report(train: DataFrame, test: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         ngram: int = 13, min_matches: int = 1,
                         broadcast_test: bool = True) -> DataFrame:
    """Per-train-document contamination counts against the test set.

    Returns (id, n_ngrams, n_contaminated, is_contaminated): total
    distinct n-grams, how many also occur anywhere in ``test``, and
    whether that meets ``min_matches`` (the GPT-3-style rule is any
    single 13-gram collision; raise ``min_matches`` to tolerate
    boilerplate)."""
    tr = _gram_hashes(train, text_col, id_col, ngram)
    # the test vocabulary is a distinct set, so a LEFT join against it
    # preserves every train gram exactly once and marks the hits — ONE
    # tokenize/shingle pass over the train corpus and ONE groupBy(doc)
    # computes both the size and the hit count (the two-aggregate
    # sizes-join-hits shape ran the train gram projection twice and
    # paid a second doc-keyed shuffle + join — measured 2.16 -> 1.31 s
    # median at sf0.1, same rows; OPTIMIZATION_r17.md Finding 3)
    te = (_gram_hashes(test, text_col, None, ngram).distinct()
          .withColumn("__hit", F.lit(1)))
    if broadcast_test:
        te = F.broadcast(te)
    return (tr.join(te, "h", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.count("__hit").cast("long").alias("n_contaminated"))
            .withColumn("is_contaminated",
                        F.col("n_contaminated") >= min_matches))


def decontaminate(train: DataFrame, test: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  ngram: int = 13, min_matches: int = 1,
                  broadcast_test: bool = True) -> DataFrame:
    """Drop contaminated rows from ``train``: one broadcast-driven
    LEFT ANTI join against the flagged id set — the train corpus
    streams through unshuffled."""
    bad = (contamination_report(train, test, text_col, id_col, ngram,
                                min_matches, broadcast_test)
           .filter(F.col("is_contaminated"))
           .select(id_col))
    return train.join(bad, id_col, "left_anti")
