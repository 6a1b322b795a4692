"""Document deduplication at corpus scale.

Four strategies, cheapest first:

  exact_dedup        one shuffle on a 128-bit content hash
  simhash            near-dup via 64-bit locality-sensitive fingerprint
  minhash_lsh_pairs  shingle MinHash + banded LSH candidate pairs
  ngram_jaccard_pairs exact Jaccard on shingle sets (verification pass)

Scale notes (the whole point):
  * Shingling/hashing are built-in expressions (md5/split/transform) —
    whole-stage codegen, no Python.
  * Projections with higher-order functions are built as SQL text (one
    parse per projection): the Column-API form spends several py4j
    round trips per lambda and operator, which at the 16-hash
    signature and pair expansion made the driver-side build a large
    share of a short query's wall time.
  * Candidate generation is a groupBy/join on (band, hash) buckets —
    work is proportional to bucket collisions, never |docs|^2.
  * MinHash hashes each shingle ONCE (md5 -> 32-bit int), then applies
    num_hashes universal-hash variants (a*h + b mod 2^31-1) — standard
    minhash guarantees, deterministic and engine-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_druid_spark.pipeline._util import (
    ident, md5_long, parallelize_scan, sql_str,
)

_WHITESPACE = sql_str(r"\s+")


def _tokens(text_col: str) -> str:
    """SQL text: whitespace tokenization of the column named
    ``text_col``, with empty-token removal."""
    return f"filter(split({ident(text_col)}, {_WHITESPACE}), t -> t != '')"


def _shingles(toks: str, k: int) -> str:
    """SQL text: k-token shingles as strings, a transform over the
    token index range of the token-array column named ``toks``.

    ``toks`` names a materialized token-array column, never an inline
    ``_tokens(...)`` expression: the transform lambda references it
    once per shingle, and Catalyst re-evaluates a computed closure
    reference per element — inlining the split turns an O(n)
    projection into O(n^2) per document (measured 5x wall on sf0.1,
    and the factor grows with doc length). Callers stage ``_tokens``
    into a ``__toks`` column first; the extra Project is
    collapsed-safe because Catalyst declines to inline
    multi-referenced non-cheap expressions."""
    t, k = ident(toks), int(k)
    return (f"CASE WHEN size({t}) < {k} THEN array(concat_ws(' ', {t})) "
            f"ELSE transform(sequence(0, size({t}) - {k}), "
            f"i -> concat_ws(' ', slice({t}, i + 1, {k}))) END")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); survivor = min(id).
    One shuffle keyed on the hash — at 100 TB the hash (16 bytes) is the
    shuffle payload, not the document."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
          .groupBy("content_hash")
          .agg(F.min(id_col).alias("survivor_id"),
               F.count(F.lit(1)).alias("dup_count"))
    )


_MERSENNE_P = (1 << 31) - 1


def _hash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) universal-hash coefficients derived from
    md5 of the index — engine-agnostic and seedless."""
    import hashlib

    out = []
    for i in range(num_hashes):
        h = hashlib.md5(f"minhash-{i}".encode()).hexdigest()
        a = int(h[:8], 16) % (_MERSENNE_P - 1) + 1
        b = int(h[8:16], 16) % _MERSENNE_P
        out.append((a, b))
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       shingle_k: int = 3) -> DataFrame:
    """Per-doc MinHash signature via universal hashing:
    h = md5(shingle) taken as a 32-bit int (ONE md5 per shingle), then
    sig_i = min((a_i*h + b_i) mod p) with p = 2^31-1.

    Zero shuffles to build signatures — each doc is processed where it
    lives; the per-shingle base hash is materialized once (``__h``
    column) so the num_hashes variants are multiply-adds, not repeated
    digests."""
    # stage tokens first — see _shingles docstring (O(n^2) otherwise)
    idc = ident(id_col)
    staged = parallelize_scan(df).selectExpr(
        idc, f"{_tokens(text_col)} AS __toks")
    hashed = staged.selectExpr(
        idc, f"transform({_shingles('__toks', shingle_k)}, "
             f"s -> {md5_long('s', 8)}) AS __h")
    sig = ", ".join(
        f"array_min(transform(__h, h -> (h * {a} + {b}) % {_MERSENNE_P}))"
        for a, b in _hash_coeffs(num_hashes))
    return hashed.selectExpr(idc, f"array({sig}) AS minhash")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_k: int = 3,
                      max_bucket_size: int = 1000) -> DataFrame:
    """Banded LSH candidate pairs: docs agreeing on any band of the
    signature. Returns distinct (id_a < id_b) candidate pairs.

    Shape matters at scale: signatures are computed ONCE (a self-join
    on the banded view would duplicate the md5-per-shingle work on both
    probe sides), then ONE groupBy shuffles just (band, bucket, id) —
    a few dozen bytes per doc — and pairs expand inside each bucket
    with array HOFs. Work is proportional to bucket collisions, never
    |docs|^2.

    ``max_bucket_size`` bounds the per-bucket state: a degenerate
    bucket (thousands of byte-identical docs sharing a signature band)
    would otherwise build one giant collect_set array and O(n^2)
    in-bucket pairs on a single task. Buckets past the cap are dropped
    here — exactly-identical docs are the job of exact_dedup (one
    hash-groupBy), which handles them without pair expansion."""
    rows_per_band = int(num_hashes) // int(bands)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    cells = ", ".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(f"minhash[{b * rows_per_band + r}]"
                    for r in range(rows_per_band))
        + ")) AS bucket)"
        for b in range(int(bands)))
    banded = sigs.selectExpr(
        ident(id_col), f"explode(array({cells})) AS bb",
    ).selectExpr(ident(id_col), "bb.band", "bb.bucket")
    buckets = (banded.groupBy("band", "bucket")
               .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
               .filter((F.size("ids") > 1)
                       & (F.size("ids") <= max_bucket_size)))
    pairs = ("flatten(transform(ids, (x, i) -> transform("
             "slice(ids, i + 2, size(ids)), "
             "y -> struct(x AS id_a, y AS id_b))))")
    return (buckets.selectExpr(f"explode({pairs}) AS p")
            .select("p.id_a", "p.id_b")
            .distinct())


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token take `bits` bits of md5; each bit
    votes +1/-1; fingerprint bit = sign of the vote sum. Near-dups have
    small Hamming distance.

    One md5 per token: tokens hash to 48-bit longs in a materialized
    array column, then each bit's vote is an independent scalar
    aggregate() fold. Scalar folds beat a single fold with an
    array-of-votes accumulator by an order of magnitude at scale: the
    array version allocates a fresh `bits`-element array per token per
    row (measured 21x wall-clock for 10x rows from the GC churn —
    tools/scale_smoke.py), while the scalar folds stay allocation-free
    and linear. 48-bit hashes are exactly representable as doubles, so
    floor(h / 2^i) % 2 extracts bit i without a variable-shift
    primitive."""
    if bits > 48:
        raise ValueError("simhash supports at most 48 bits")
    idc = ident(id_col)
    hashed = parallelize_scan(df).selectExpr(
        idc, f"transform({_tokens(text_col)}, w -> {md5_long('w', 12)})"
             " AS __h")

    def bit_val(i: int) -> str:
        vote = (f"aggregate(__h, 0, (acc, h) -> acc + CASE WHEN "
                f"CAST(floor(CAST(h AS DOUBLE) / {float(2 ** i)!r}D) "
                f"AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)")
        return (f"CASE WHEN {vote} > 0 THEN CAST({2 ** i} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END")

    fp = " + ".join(bit_val(i) for i in range(int(bits)))
    return hashed.selectExpr(idc, f"{fp} AS simhash")


def embedding_cosine_pairs(df: DataFrame, dim: int,
                           threshold: float = 0.35, bits: int = 8,
                           tables: int = 2, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           max_bucket_size: int = 10000,
                           round_to: int | None = 6,
                           verify: str = "expression") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    Each of ``tables`` independent random-hyperplane sign buckets blocks
    the self-join: only vectors sharing a (table, bucket) cell are
    compared, so work scales with bucket collisions (n^2 / 2^bits per
    table in expectation), never |docs|^2. Exact cosine on candidates,
    keep pairs >= threshold, distinct across tables. More tables raise
    recall at linear candidate cost — the standard LSH amplification.

    ``max_bucket_size`` drops degenerate cells (a pile of identical
    embeddings) the same way minhash_lsh_pairs does: identical vectors
    are exact_dedup's job, not pair expansion's. The oversized-cell
    set is found by a vector-free (table, bucket) aggregation and
    broadcast as a LEFT ANTI join — the embedding payload is never
    shuffled for the cap, only for the one blocked self-join. (r18
    A/B, commit a7e6a08: a window-count cap keyed on the join key
    looked cheaper on paper — no second aggregate — but the
    exchange+sort+window pair under both join sides measured x2 WORSE
    at 10x amplified collision density, 6.4 s vs 3.2 s median, while
    tying at sf0.1; the vector-free aggregate over the persisted
    buckets stays. The variant never shipped; wrap it as a
    ``(spark, sf_dir)`` builder and re-time it with
    ``python tools/ab.py MOD:FUNC MOD:FUNC --sf DIR``.) At 100 TB the
    buckets are materialized at ingest and the table clustered by them,
    making the self-join co-partitioned.

    ``verify="expression"`` (default) runs the exact-cosine pass as
    built-in expressions — oracle-exact, UDF-free, and (r14) unrolled
    into whole-stage codegen arithmetic rather than interpreted HOF
    folds. ``verify="numpy"`` replaces the per-pair expression dot
    with ONE
    normalized p x p matmul per (table, bucket) group via
    applyInPandas — the semdedup scale-mode shape, two orders cheaper
    when buckets carry real collision load; memory per task is bounded
    by max_bucket_size^2 doubles. Both paths round to ``round_to``
    before thresholding and agree (equivalence-tested)."""
    from apache_druid_spark.pipeline._util import staged_explode
    from apache_druid_spark.pipeline.similarity import (
        _dot_cols, _norm, hyperplanes, lsh_bucket_sql,
    )

    if verify not in ("expression", "numpy"):
        raise ValueError(f"verify must be 'expression' or 'numpy', "
                         f"got {verify!r}")

    base = parallelize_scan(df).select(F.col(id_col), F.col(vec_col))
    # ONE scan: all tables' sign buckets in one projection, fanned out
    # by a staged (guard-wrapped) explode — the r17 per-table-view
    # union scanned the source once per table. The tables x bits
    # hyperplane dots still run exactly once per row.
    cells = "array(" + ", ".join(
        f"struct({t} AS __table, " + lsh_bucket_sql(
            ident(vec_col), hyperplanes(bits, dim, seed=f"emb{t}:"))
        + " AS __bucket)"
        for t in range(int(tables))) + ")"
    blocked = staged_explode(
        base, [id_col, vec_col], cells, "__tb",
    ).select(F.col(id_col), F.col(vec_col),
             F.col("__tb.__table").alias("__table"),
             F.col("__tb.__bucket").alias("__bucket"))
    # The bucketed table feeds the oversized-cell aggregate AND (via
    # the anti join) both self-join sides; persist it so the
    # tables×bits hyperplane dot products run once per row, not once
    # per consumer. The 100 TB shape is the same buckets materialized
    # at ingest; this is the ad-hoc analog. (The a/b join sides share
    # one shuffle via ReusedExchange — the cross-branch recompute is
    # the one Catalyst can't dedupe.)
    from apache_druid_spark.plans.timeout import persist

    blocked = persist(blocked)
    oversized = (blocked.select("__table", "__bucket")
                 .groupBy("__table", "__bucket")
                 .agg(F.count(F.lit(1)).alias("__bsz"))
                 .filter(F.col("__bsz") > max_bucket_size)
                 .select("__table", "__bucket"))
    blocked = (blocked.join(F.broadcast(oversized),
                            ["__table", "__bucket"], "left_anti")
               .withColumn("__nrm", _norm(f"`{vec_col}`", dim)))
    if verify == "numpy":
        return _bucket_pairs_numpy(blocked, threshold, vec_col, id_col,
                                   round_to)
    a, b = blocked.alias("a"), blocked.alias("b")
    # zip_with fold over the pair — measured faster than the r14
    # unrolled arithmetic at every scale on Spark 4.1.2 (SCALE.md r15;
    # similarity._dot_cols keeps the same fold order, so values are
    # identical), and mismatched vector lengths null out via padding
    dot = _dot_cols(f"a.`{vec_col}`", f"b.`{vec_col}`", dim)
    cosine = dot / (F.col("a.__nrm") * F.col("b.__nrm"))
    if round_to is not None:
        cosine = F.round(cosine, round_to)
    pairs = (
        a.join(b, [F.col("a.__table") == F.col("b.__table"),
                   F.col("a.__bucket") == F.col("b.__bucket"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
         .select(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 cosine.alias("cosine"))
         .filter(F.col("cosine") >= threshold)
         .distinct()
    )
    return pairs


def _bucket_pairs_numpy(blocked: DataFrame, threshold: float,
                        vec_col: str, id_col: str,
                        round_to: int | None) -> DataFrame:
    """numpy verify for embedding_cosine_pairs: one shuffle on
    (table, bucket), one normalized p x p matmul per group, distinct
    across tables. Same rounding-then-threshold as the expression
    path."""
    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        v = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
        n = np.sqrt((v * v).sum(axis=1))
        n[n == 0.0] = 1.0
        sims = (v / n[:, None]) @ (v / n[:, None]).T
        if round_to is not None:
            sims = np.round(sims, round_to)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame({"id_a": ids[ia[keep]],
                             "id_b": ids[ib[keep]],
                             "cosine": sims[ia[keep], ib[keep]]})

    return (blocked.groupBy("__table", "__bucket")
            .applyInPandas(pairs, "id_a long, id_b long, cosine double")
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 3,
                        threshold: float = 0.8,
                        max_shingle_freq: int = 1000) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle.

    Inverted index: explode each doc's distinct shingles as 60-bit
    md5-prefix hashes (the shuffle/join payload is an 8-byte long, not
    the shingle text; a 2^-60 collision rate is far below any near-dup
    noise floor), drop ultra-common shingles, then expand candidate
    pairs per posting list and count shared shingles per pair.
    |A u B| = |A| + |B| - shared.

    Shape at scale: stop-shingles (doc-freq > cap) are found first and
    broadcast as a LEFT ANTI join — the stop set is tiny by
    construction while the kept vocabulary is billions of rows, so
    broadcasting any other side would die at corpus scale; the anti
    join also keeps degenerate posting lists from ever materializing.
    Pair generation is a hash self-join on the 8-byte shingle hash —
    with millions of tiny posting lists a groupBy+collect_list bucket
    expansion (minhash's shape, right for its few large buckets)
    degrades to object-hash aggregation over per-group arrays, while
    the join stays in codegen. This is the exact verification pass to
    run AFTER minhash_lsh_pairs at full scale; on its own it is fine
    up to ~10M docs.

    The posting table (id, h) feeds the stop-list aggregate and both
    sides of the pair self-join. It is deliberately NOT persisted
    (VERDICT r4 #4 history: r1-r4 cached it, which both leaked a
    session-lived cache that contended with neighboring queries AND
    measured slower than recompute — 2.6-2.9 s vs 2.1-2.7 s at
    sf0.1): the expensive consumer pair, the two self-join sides,
    share the IDENTICAL subtree, so Catalyst's exchange reuse
    materializes its shuffle once and serves both sides from shuffle
    files — a disk-backed "cache" scoped exactly to the query. At
    100 TB, if the source scan is the bottleneck, write the posting
    table to a staging table once and feed THAT here as ``df``
    pre-shingled — the plan shape is unchanged.

    Per-doc set sizes ride along as a window count over the kept
    posting rows partitioned on the doc id (r18; guide §2.4): the
    count is value-identical to the old groupBy(id)+join-back pair,
    but the join sides now CARRY their sizes, which deletes the two
    post-aggregation size joins and the separate sizes pass — the
    posting subtree evaluates twice total (stop aggregate + the
    reused join input) instead of six times (the two size branches
    each re-derived posting and, under broadcast joins, re-derived it
    again on each build side)."""
    from pyspark.sql.window import Window

    from apache_druid_spark.pipeline._util import staged_explode

    staged = parallelize_scan(df).selectExpr(
        # stage tokens first — see _shingles docstring (O(n^2) otherwise)
        ident(id_col), f"{_tokens(text_col)} AS __toks",
    )
    # staged_explode: shingle array evaluated once per row, no inferred
    # filter duplicating the tree (see _util.guarded_explode)
    posting = staged_explode(
        staged, [id_col],
        f"array_distinct({_shingles('__toks', shingle_k)})", "shingle",
    ).selectExpr(ident(id_col), f"{md5_long('shingle', 15)} AS h")
    stop = (posting.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_freq)
            .select("h"))
    sh = (posting.join(F.broadcast(stop), "h", "left_anti")
          .withColumn("set_size",
                      F.count(F.lit(1)).over(Window.partitionBy(id_col))))
    a, b = sh.alias("a"), sh.alias("b")
    # min(set_size) per group == the group's constant size (every row
    # of a doc carries the same window count); min keeps the aggregate
    # deterministic
    shared = (
        a.join(b, [F.col("a.h") == F.col("b.h"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
         .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                  F.col(f"b.{id_col}").alias("id_b"))
         .agg(F.count(F.lit(1)).alias("shared"),
              F.min("a.set_size").alias("__size_a"),
              F.min("b.set_size").alias("__size_b")))
    out = shared.select(
        "id_a", "id_b",
        (F.col("shared")
         / (F.col("__size_a") + F.col("__size_b") - F.col("shared"))
         ).alias("jaccard"))
    return out.filter(F.col("jaccard") >= threshold)


def edit_distance_verify(df: DataFrame, pairs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         max_rel_bp: int = 10000) -> DataFrame:
    """Exact Levenshtein verification of candidate near-dup pairs.

    The blocking stages (minhash LSH, simhash, embedding buckets) emit
    candidate ``(id_a, id_b)`` pairs; this is the character-level exact
    pass that runs after them: join each side's text back, compute
    unit-cost Levenshtein distance, and keep pairs whose relative
    distance — ``dist / max(len_a, len_b)`` in basis points — is at
    most ``max_rel_bp``. All outputs are integer-exact (distance and
    basis points), so ranking/thresholding is engine-independent.

    Scale shape: two hash joins gather the text payload (each side's
    text moves exactly once — the standard gather for a verify pass);
    the candidate set is ~linear in corpus size by LSH construction, so
    this never goes quadratic. The DP itself is BAND-LIMITED: the
    per-pair distance bound implied by ``max_rel_bp`` is passed as
    Spark's levenshtein threshold, so a dissimilar candidate costs
    O(len * bound) and early-exits instead of O(len_a * len_b) —
    filtering is exactly equivalent: with B = max_rel_bp and L =
    max_len, floor(10000*d/L) <= B iff 10000*d < (B+1)*L iff
    d <= floor(((B+1)*L - 1) / 10000), which is the band bound used
    (ADVICE r4: the naive floor(B*L/10000) under-bounds at e.g. L=3,
    d=1, B=3333 where rel_bp = 3333 qualifies but the naive bound is
    0). Kept distances are exact. For multi-KB documents still prefer a tight
    ``max_rel_bp`` or shingle-Jaccard verify (``ngram_jaccard_pairs``).
    """
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(text_col).alias("__text_a"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(text_col).alias("__text_b"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    max_len = F.greatest(F.length("__text_a"), F.length("__text_b"),
                         F.lit(1)).cast("long")
    bound = F.floor((max_len * F.lit(int(max_rel_bp) + 1) - F.lit(1))
                    / F.lit(10000))
    staged = joined.withColumn("__lev_bound", bound.cast("int"))
    # threshold-limited levenshtein returns -1 past the bound; the
    # Column-threshold form only exists via SQL expr. Exact-duplicate
    # pairs (the bulk of a crawl's candidate set) short-circuit to 0
    # on an O(len) equality check instead of running the DP at all.
    dist = F.when(F.col("__text_a") == F.col("__text_b"), F.lit(0))\
        .otherwise(F.expr("levenshtein(__text_a, __text_b, __lev_bound)")
                   ).cast("long")
    max_len_s = F.greatest(F.length("__text_a"), F.length("__text_b"),
                           F.lit(1)).cast("long")
    rel_bp = F.floor(dist * F.lit(10000) / max_len_s).cast("long")
    return (staged.select("id_a", "id_b", dist.alias("edit_dist"),
                          rel_bp.alias("rel_dist_bp"))
                  .filter(F.col("edit_dist") >= 0))
