"""Shared pipeline helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

from apache_druid_spark.operators.util import ident  # noqa: F401


def sql_str(value: str) -> str:
    """``value`` as a SQL string literal: backslashes and single quotes
    escaped, so regexes such as ``\\s+`` reach the function intact."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def md5_long(sql: str, digits: int) -> str:
    """SQL text: the first ``digits`` hex digits of ``md5(sql)`` as a
    BIGINT (15 digits is the 60-bit hash the dedup joins key on)."""
    return (f"CAST(conv(substring(md5({sql}), 1, {int(digits)}), 16, 10) "
            "AS BIGINT)")


def guarded_explode(arr: str) -> str:
    """SQL text: ``explode`` of the array column named ``arr``, with the
    input wrapped so Catalyst's ``InferFiltersFromGenerate`` rule cannot
    fire.

    That rule infers ``size(input) > 0 AND isnotnull(input)`` below any
    ``Generate`` whose input is a plain attribute. When the attribute is
    an alias of an expensive expression (tokenize/shingle/hash trees —
    interpreted higher-order functions here), filter pushdown then
    substitutes the FULL defining expression into the inferred filter
    and pushes it below the staging Project, re-evaluating the whole
    tree up to three times per row (size + isnotnull + the projection
    itself). Measured on the sf0.1 documents shingle pass: explode of
    the staged gram-array attribute 6.2-7.3 s vs 0.35 s with this
    guard — a 13-18x penalty for rows the filter never actually drops
    (explode already emits nothing for null/empty arrays, so the
    inferred filter is pure duplicated compute on text corpora).

    The guard — ``CASE WHEN size(arr) >= 0 THEN arr END`` — is
    value-identical for every input: any non-null array has size >= 0
    (branch taken, no copy), a null array yields null under both
    legacy and ANSI size() semantics, and explode(null) = explode of
    the unguarded null = zero rows. Because the generator input is no
    longer an attribute, the rule (which matches attributes only)
    cannot fire, and because the guard references the array twice,
    CollapseProject keeps the staging Project materialized instead of
    inlining the expensive tree into Generate (guide §2.4/§7.2:
    duplicated subtrees are plan smells).
    """
    a = ident(arr)
    return f"explode(CASE WHEN size({a}) >= 0 THEN {a} END)"


def staged_explode(df: DataFrame, keep: list[str], arr: str,
                   out_name: str) -> DataFrame:
    """Stage ``arr`` (SQL text of an expensive array expression) into a
    column of its own Project, keeping the columns named in ``keep``,
    then ``guarded_explode`` it — the fast Generate shape: the array
    tree evaluates exactly once per input row, and no inferred filter
    duplicates it (see guarded_explode). Measured 0.31-0.44 s vs 0.87 s
    for the inline ``explode(<tree>)`` form and 6.2-8.8 s for the
    staged-attribute form on the sf0.1 shingle pass.
    """
    kept = [ident(k) for k in keep]
    staged = df.selectExpr(*kept, f"{arr} AS __arr")
    return staged.selectExpr(
        *kept, f"{guarded_explode('__arr')} AS {ident(out_name)}")


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before compute-heavy
    per-row work (hashing, HOF folds).

    A parquet scan can't parallelize past its row-group count; a table
    written as one row group (or a handful of small files) therefore
    pins all downstream map-side compute to a few tasks. One cheap
    round-robin shuffle of the raw rows fixes that. At scale this is a
    no-op: when the source already has >= defaultParallelism partitions
    the input is returned untouched, so well-laid-out 100 TB tables pay
    nothing.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Input-file count from the catalog, NOT df.rdd.getNumPartitions():
    # the RDD conversion forces a full plan re-derivation per call,
    # which on a 100 TB table is a real planning cost.
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = 0
    if nfiles >= target:
        return df
    return df.repartition(target)
