"""Deterministic sampling / splitting for training-data pipelines.

Large-scale corpus work needs samples that are (a) reproducible across
runs and engines — no ``rand()`` — and (b) computable in a single
narrow projection with no shuffle. Both come from keying the decision
on a content hash: a row is kept iff

    md5(seed ':' key)  as a 60-bit integer  <  rate * 2^60

which is a pure per-row filter Catalyst pushes straight into the scan.
Stratified rates compile to one ``CASE`` over the stratum column —
still a single-pass projection, no per-stratum jobs, no
``sampleBy``-style RNG (Spark's ``sampleBy`` draws per-row randoms, so
two runs disagree; hash gating never does).

At 100 TB: zero shuffles, zero driver state; the md5 is whole-stage
codegen JVM work. The same construction (same md5, same threshold)
is reproducible in any engine, which is how the oracle checks it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16^15 = 2^60 — the value space of the first 15 md5 hex digits
_SPACE = 1 << 60


def _hash_u60(key: Column, seed: str) -> Column:
    """First 15 hex digits of md5(seed:key) as a uniform [0, 2^60) long."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), key.cast("string"))),
                    1, 15), 16, 10).cast("long")


def _threshold(rate: float) -> int:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return int(rate * _SPACE)


def hash_sample(df: DataFrame, key_col: str, rate: float,
                seed: str = "sample") -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows, keyed on
    ``key_col``. Same key + seed → same decision, every run, every
    engine, any partitioning."""
    return df.filter(_hash_u60(F.col(key_col), seed) < _threshold(rate))


def stratified_sample(df: DataFrame, strata_col: str, key_col: str,
                      fractions: dict[str, float],
                      default_rate: float = 0.0,
                      seed: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all of rare ones). ``fractions`` maps stratum value
    → keep-rate; strata not listed use ``default_rate``."""
    thr = F.lit(_threshold(default_rate))
    for value, rate in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value,
                     F.lit(_threshold(rate))).otherwise(thr)
    return df.filter(_hash_u60(F.col(key_col), seed) < thr)


def train_test_split_col(df: DataFrame, key_col: str, test_rate: float,
                         seed: str = "split",
                         out_col: str = "split") -> DataFrame:
    """Add a deterministic 'train'/'test' column. Content-keyed, so the
    assignment survives re-ingestion and dedup reshuffles — a document
    can never leak from train to test between runs."""
    return df.withColumn(
        out_col,
        F.when(_hash_u60(F.col(key_col), seed) < _threshold(test_rate),
               F.lit("test")).otherwise(F.lit("train")))


def leakage_safe_split(df: DataFrame, components: DataFrame,
                       key_col: str = "doc_id", node_col: str = "node",
                       test_rate: float = 0.1, seed: str = "split",
                       out_col: str = "split") -> DataFrame:
    """Near-dup-cluster-aware train/test split: every document in a
    connected near-duplicate cluster hash-gates on the CLUSTER ROOT,
    so a test example can never have a near-copy in train (the
    contamination Lee et al. 2022 measure inflating eval scores).

    ``components`` is (node, component) from
    pipeline.graph.connected_components over the near-dup pair graph.
    Scale: only the non-singleton members join in (component != node —
    the duplicate MINORITY of the corpus). No broadcast hint: web
    crawls run 30-50% duplicate members, so dup_members is
    input-proportional (billions of rows at 100 TB) — a forced
    broadcast would override AQE and fail past the broadcast limit.
    AQE picks broadcast when the dup table is actually small and a
    shuffle join otherwise; the hash-gate math is identical either
    way. The cluster root coalesces on STRINGS, not longs: a
    non-numeric doc_id cast to long is NULL under non-ANSI (every
    singleton would silently land in 'train' with no test set) and a
    CAST_INVALID_INPUT crash under ANSI. String coalesce hashes
    identically for numeric ids (long 123 stringifies to '123', the
    same bytes _hash_u60 fed before) and gates string ids correctly.
    Assignment stays content-keyed and deterministic across runs."""
    dup_members = components.filter(
        F.col("component") != F.col(node_col)).select(
        F.col(node_col).alias(key_col), "component")
    joined = df.join(dup_members, key_col, "left")
    root = F.coalesce(F.col("component").cast("string"),
                      F.col(key_col).cast("string"))
    return joined.withColumn(
        out_col,
        F.when(_hash_u60(root, seed) < _threshold(test_rate),
               F.lit("test")).otherwise(F.lit("train"))
    ).drop("component")


def mixture_weights(df: DataFrame, target: dict[str, float],
                    group_col: str = "lang", text_col: str = "text",
                    round_to: int = 4) -> DataFrame:
    """Per-group resampling weights that shift the observed corpus
    mixture toward a ``target`` token-share mixture (the static form
    of domain reweighting à la DoReMi/data-mixing recipes):

        weight(g) = target_share(g) / observed_token_share(g)

    Rows: one per group — ``(group, n_docs, n_tokens, obs_share_bp,
    target_share, weight)``. ``obs_share_bp`` is integer basis points
    (engine-exact); ``weight`` > 1 means upsample, < 1 downsample, 0
    for groups absent from ``target``. Feed the weights to
    ``stratified_sample`` (weights clamped to [0, 1]) or a repetition
    factor for epochs > 1.

    Shape at scale: token counting fuses into the scan, the groupBy is
    partial-aggregated map-side into ≤ |groups| rows, the corpus total
    is a window sum over those ≤ |groups| rows (a constant partition
    key keeps the window defined — the r16 ``per.agg`` total subtree
    could not share the groupBy exchange because column pruning
    stripped n_docs from its branch, so the corpus was scanned and
    tokenized TWICE; see ``git show
    e5b1048:plans/r17/mixture_weights_lang_before.txt`` and
    OPTIMIZATION_r17.md), and the target table is a broadcast literal.
    One corpus pass, one shuffle of group-count size; no collects.

    Cardinality assumption (ADVICE r17): the single-partition window
    is sized for mixture GROUPS — languages, domains, source buckets —
    i.e. at most a few thousand aggregate rows through one task. If
    ``group_col`` is high-cardinality (per-domain-of-millions,
    per-url), pre-aggregate to a coarser mixture key first or replace
    the window with a broadcast single-row total; the weights math is
    unchanged.
    """
    from pyspark.sql.window import Window

    from apache_druid_spark.pipeline._util import parallelize_scan

    toks = F.size(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                           lambda t: t != ""))
    per = (parallelize_scan(df).groupBy(F.col(group_col).alias("grp"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(toks).alias("n_tokens")))
    per = per.withColumn(
        "__total",
        F.sum("n_tokens").over(Window.partitionBy(F.lit(1))))
    tgt = df.sparkSession.createDataFrame(
        [(str(k), float(v)) for k, v in sorted(target.items())],
        "grp string, target_share double")
    return (per
            .join(F.broadcast(tgt), "grp", "left")
            .select(
                F.col("grp").alias(group_col), "n_docs", "n_tokens",
                F.floor(F.col("n_tokens") * F.lit(10000) / F.col("__total"))
                 .cast("long").alias("obs_share_bp"),
                F.coalesce("target_share", F.lit(0.0)).alias("target_share"),
                # a group whose documents all tokenize to zero tokens
                # carries no token mass to reweight: weight 0 (not NULL
                # — NULL would silently poison downstream sampling;
                # ADVICE r4). Same for an all-empty corpus (__total 0).
                F.when((F.col("n_tokens") == 0) | (F.col("__total") == 0),
                       F.lit(0.0))
                 .otherwise(
                    F.round(F.coalesce("target_share", F.lit(0.0))
                            * F.col("__total") / F.col("n_tokens"),
                            round_to))
                 .alias("weight")))
