"""Text analysis operators for training-data curation.

All pure built-in expressions (split/regexp/length/aggregate) — no
Python in the row path; every operator is a single-pass projection
that Catalyst fuses into the scan."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_druid_spark.pipeline._util import (
    ident, parallelize_scan, sql_str,
)

# Minimal per-language stopword marker lists for the n-gram/stopword
# language-ID heuristic (public common-word lists).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "un", "une", "du", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "del", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


_WHITESPACE = sql_str(r"\s+")
_NEWLINE = sql_str("\n")


def _tokens(text_col: str) -> str:
    """SQL text: lowercased whitespace tokens of the column named
    ``text_col``, with empty-token removal."""
    return (f"filter(split(lower({ident(text_col)}), {_WHITESPACE}), "
            f"t -> t != '')")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish subword estimate
    (words + punctuation clusters + CJK chars counted individually)."""
    df = parallelize_scan(df)
    toks = F.expr(_tokens(text_col))
    # BPE-ish: alnum runs, punct runs, and CJK codepoints each count
    bpe_ish = F.size(F.filter(
        F.split(F.col(text_col),
                r"(?<=[一-鿿])|(?=[一-鿿])|\s+|(?=[^\w\s])"),
        lambda t: t != ""))
    return df.withColumns({
        "n_tokens": F.size(toks),
        "n_tokens_bpe_ish": bpe_ish,
        "avg_token_len": F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)), 4),
    })


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "lang_pred") -> DataFrame:
    """Stopword-ratio language ID: score each language by marker-token
    hits; argmax wins (ties broken by language code order).
    Reference behavior modeled on common n-gram language-ID heuristics."""
    df = parallelize_scan(df)
    toks = F.expr(_tokens(text_col))
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        marker_arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on (hits, lang) structs: max hits, then max lang code —
    # deterministic; flip lang ordering by sorting desc on code
    best = F.array_max(F.array(*scores))
    return df.withColumn(out_col, best["lang"]).withColumn(
        f"{out_col}_hits", best["hits"])


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation density, stopword
    ratio, uppercase ratio, repetition — composed into [0,1]."""
    df = parallelize_scan(df)
    text = F.col(text_col)
    toks = F.expr(_tokens(text_col))
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    en = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    uniq_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1))
    # integer-exact composite: quality = N / (5000*t) with
    # N = 3*min(nc,500)*t + 1500*min(5*s, t) + 2000*u — all integers, so
    # quality_bp (basis points, floor(2N/t)) is engine-independent: no
    # float rounding half-point can flip it (0.48415 rounded to 4dp
    # differs Spark vs DuckDB; 4841 bp does not)
    a = F.least(n_chars, F.lit(500)).cast("long")
    t = F.greatest(n_tokens, F.lit(1)).cast("long")
    s = stop_hits.cast("long")
    u = F.size(F.array_distinct(toks)).cast("long")
    n_exact = (F.lit(3) * a * t + F.lit(1500) * F.least(F.lit(5) * s, t)
               + F.lit(2000) * u)
    return df.withColumns({
        "q_len": F.round(F.least(n_chars / F.lit(500.0), F.lit(1.0)), 4),
        "q_punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
        "q_upper_ratio": F.round(n_upper / F.greatest(n_chars, F.lit(1)), 4),
        "q_stopword_ratio": F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4),
        "q_uniq_ratio": F.round(uniq_ratio, 4),
        "quality": F.round(
            F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.3
            + F.least(stop_hits / F.greatest(n_tokens, F.lit(1)) * 5, F.lit(1.0)) * 0.3
            + uniq_ratio * 0.4, 4),
        "quality_bp": F.floor(F.lit(2) * n_exact / t).cast("long"),
    })


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 50,
                 max_words: int = 100_000) -> DataFrame:
    """Gopher structural quality rules (Rae et al. 2021, §A1.1 Table
    A1 — the filter set reused by FineWeb/Dolma/RefinedWeb):

    - word count in [min_words, max_words]
    - mean word length in [3, 10] characters
    - symbol-to-word ratio ('#' or '...') <= 0.1
    - <= 90% of lines start with a bullet
    - <= 30% of lines end with an ellipsis
    - >= 80% of words contain an alphabetic character
    - at least 2 of the 8 canonical English stop words present

    Single codegen projection, no shuffle, no Python. Every rule is an
    EXACT integer comparison (mean-word-length in [3,10] is
    3*n <= chars <= 10*n; ratios cross-multiply), so the booleans are
    engine-independent — no float threshold can flip between Spark and
    an oracle. Rules emit as 0/1 ints; pass_gopher is their AND. At
    100 TB this stays a fused scan projection: Catalyst pipelines it
    into the parquet read with zero exchanges. Both projections are
    built as SQL text (dedup module docstring: HOF build cost).
    """
    text, idc = ident(text_col), ident(id_col)
    ellipsis = r"(\.\.\.|…)"
    # stage arrays so lambdas don't re-evaluate the split per element
    staged = parallelize_scan(df).selectExpr(
        idc,
        f"{_tokens(text_col)} AS __toks",
        f"filter(split({text}, {_NEWLINE}), ln -> trim(ln) != '')"
        " AS __lines",
        f"CAST(length({text}) - length(regexp_replace({text}, '#', ''))"
        f" + regexp_count({text}, {sql_str(ellipsis)}) AS BIGINT)"
        " AS __symbols",
    )
    n_words = "CAST(size(__toks) AS BIGINT)"
    word_chars = ("aggregate(__toks, CAST(0 AS BIGINT), "
                  "(a, t) -> a + length(t))")
    n_lines = "CAST(size(__lines) AS BIGINT)"
    bullet_lines = ("CAST(size(filter(__lines, "
                    f"ln -> trim(ln) RLIKE {sql_str('^[•*-]')})) AS BIGINT)")
    ellipsis_lines = ("CAST(size(filter(__lines, "
                      f"ln -> rtrim(ln) RLIKE {sql_str(ellipsis + '$')}))"
                      " AS BIGINT)")
    alpha_words = ("CAST(size(filter(__toks, "
                   f"t -> t RLIKE {sql_str('[a-z]')})) AS BIGINT)")
    stops = ", ".join(sql_str(w) for w in GOPHER_STOPWORDS)
    stop_distinct = ("CAST(size(array_intersect(array_distinct(__toks), "
                     f"array({stops}))) AS BIGINT)")
    rules = {
        "r_word_count": f"({n_words} >= {int(min_words)}) "
                        f"AND ({n_words} <= {int(max_words)})",
        "r_mean_word_len": f"({word_chars} >= {n_words} * 3) "
                           f"AND ({word_chars} <= {n_words} * 10) "
                           f"AND ({n_words} > 0)",
        "r_symbol_ratio": f"10 * __symbols <= {n_words}",
        "r_bullet_lines": f"10 * {bullet_lines} <= 9 * {n_lines}",
        "r_ellipsis_lines": f"10 * {ellipsis_lines} <= 3 * {n_lines}",
        "r_alpha_words": f"5 * {alpha_words} >= 4 * {n_words}",
        "r_stop_words": f"{stop_distinct} >= 2",
    }
    flags = {name: f"CAST({rule} AS INT)" for name, rule in rules.items()}
    return staged.selectExpr(
        idc, f"{n_words} AS n_words", f"{word_chars} AS word_chars",
        *[f"{flag} AS {name}" for name, flag in flags.items()],
        " * ".join(f"({flag})" for flag in flags.values())
        + " AS pass_gopher",
    )


def c4_filters(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_sentences: int = 3,
               min_line_words: int = 5) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020, JMLR §2.2 — the
    Colossal Clean Crawled Corpus rules): keep only lines that end in
    terminal punctuation AND hold >= min_line_words words; drop pages
    with < min_sentences sentences, pages containing 'lorem ipsum',
    and pages containing a curly brace (code leak-through).

    Emits per-document counts plus the cleaned text (kept lines
    re-joined) and keep_page as 0/1 — exact integer/equality outputs,
    engine-independent. One fused scan projection, zero shuffles at
    any scale (the JS-policy analog of C4's langdetect step lives in
    language_id)."""
    df = parallelize_scan(df)
    text = F.col(text_col)
    staged = df.select(
        F.col(id_col), text,
        F.filter(F.split(text, "\n"),
                 lambda ln: F.trim(ln) != "").alias("__lines"),
    )
    lines = F.col("__lines")
    kept = F.filter(
        lines,
        lambda ln: F.rtrim(ln).rlike('[.!?"]$')
        & (F.size(F.filter(F.split(F.trim(ln), r"\s+"),
                           lambda w: w != "")) >= min_line_words))
    cleaned = F.array_join(kept, "\n")
    # sentence count over the KEPT text: terminal-punct runs, C4's
    # proxy for "at least 3 sentences"
    n_sentences = F.coalesce(
        F.regexp_count(cleaned, F.lit(r"[.!?]+")), F.lit(0)).cast("long")
    low = F.lower(text)
    has_lorem = F.contains(low, F.lit("lorem ipsum")).cast("int")
    has_brace = F.contains(text, F.lit("{")).cast("int")
    keep = ((n_sentences >= min_sentences)
            & (has_lorem == 0) & (has_brace == 0)).cast("int")
    return staged.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep_page"),
        cleaned.alias("clean_text"),
    )


def repetition_score(df: DataFrame, text_col: str = "text",
                     ngram: int = 3) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    §A1.1 'repetition filters'): the fraction of duplicate token
    n-grams and duplicate lines inside each document. High values mean
    boilerplate/spam (nav bars, keyword stuffing) — a standard drop
    rule for LLM corpora.

    Single codegen projection, no shuffle, no Python: n-grams via
    transform over a token index range, dedup via array_distinct.
    Counts are emitted as exact integers (engine-independent); the
    fraction is dup/total in basis points for hash-stable comparison.
    """
    # stage the token array: the gram lambda references it per element,
    # and an inlined split re-evaluates O(n^2) per doc (see
    # dedup._shingles docstring)
    staged = parallelize_scan(df).select(
        "doc_id", F.col(text_col),
        F.expr(_tokens(text_col)).alias("__toks"))
    toks = F.col("__toks")
    n_tok = F.size(toks)
    grams = F.when(n_tok < ngram, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(F.sequence(F.lit(0), n_tok - ngram),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, ngram))))
    total = F.size(grams).cast("long")
    distinct = F.size(F.array_distinct(grams)).cast("long")
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda x: F.trim(x) != "")
    n_lines = F.size(lines).cast("long")
    d_lines = F.size(F.array_distinct(lines)).cast("long")
    return staged.select(
        "doc_id",
        total.alias("n_ngrams"),
        (total - distinct).alias("dup_ngrams"),
        F.floor((total - distinct) * 10000 / F.greatest(total, F.lit(1)))
        .cast("long").alias("dup_ngram_bp"),
        n_lines.alias("n_lines"),
        (n_lines - d_lines).alias("dup_lines"),
    )


def scrub_common_lines(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_df: int = 1,
                       out_col: str = "text_scrubbed") -> DataFrame:
    """C4-style cross-corpus line dedup (Raffel et al. 2020 §2.2:
    'we discarded any line that occurred more than once in the data
    set'): drop lines whose document frequency exceeds ``max_df``,
    reassemble the remaining lines in order.

    Shape at scale: lines are keyed by a 60-bit md5 prefix (8-byte
    shuffle payload, not line text); doc-frequency is one partial/final
    aggregate; the removal is a hash anti-join (AQE broadcasts it when
    the common-line set is small, shuffles when it is not — at C4 scale
    it is NOT small, which is why this never hard-codes broadcast);
    reassembly is one groupBy with an in-order array rebuild. Order is
    preserved via posexplode positions, no window needed."""
    line_h = F.conv(F.substring(F.md5("__line"), 1, 15), 16, 10) \
        .cast("long")
    lines = (parallelize_scan(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__pos", "__line"))
        .filter(F.trim(F.col("__line")) != "")
        .withColumn("__h", line_h))
    freq = (lines.select("__h", id_col).distinct()
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df")))
    common = freq.filter(F.col("__df") > max_df).select("__h")
    kept = lines.join(common, "__h", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("__pos", "__line"))),
                       lambda s: s.getField("__line")),
                   "\n").alias(out_col)))
    # docs whose every line was scrubbed (or had no lines) come back
    # with an empty string, not a dropped row
    return (df.select(id_col).join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce(out_col, F.lit("")).alias(out_col)))


def top_ngrams(df: DataFrame, text_col: str = "text", ngram: int = 3,
               k: int = 20) -> DataFrame:
    """Corpus-level heavy hitters: the ``k`` most frequent token
    n-grams with their occurrence counts (bag semantics). The standard
    corpus-inspection pass before writing boilerplate filters — the
    top repeated n-grams ARE the nav bars / license headers / spam
    templates that repetition and line-dedup rules then target.

    Plan shape at scale: tokenize→gram→explode is one codegen
    projection (token array staged per dedup._shingles' contract), the
    count is a partial/final hash aggregate keyed on the gram, and the
    top-k is TakeOrderedAndProject (per-partition k-heaps, driver
    merges k*P rows) — never a global sort. Count-desc then gram-asc
    makes the cut deterministic."""
    from apache_druid_spark.pipeline._util import staged_explode
    from apache_druid_spark.pipeline.dedup import _shingles, _tokens

    staged = parallelize_scan(df).selectExpr(
        f"{_tokens(text_col)} AS __toks")
    # staged_explode: gram array evaluated once per row, no inferred
    # filter duplicating the tree (see _util.guarded_explode)
    return (staged_explode(staged, [], _shingles("__toks", ngram), "gram")
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("occurrences"))
            .orderBy(F.col("occurrences").desc(), F.col("gram").asc())
            .limit(k))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint robust to token order and duplication:
    md5 over the sorted distinct token set (a set-hash 'rolling hash'
    analogue that any engine can reproduce)."""
    df = parallelize_scan(df)
    toks = F.array_sort(F.array_distinct(F.expr(_tokens(text_col))))
    return df.withColumn("fingerprint", F.md5(F.array_join(toks, " ")))


def winnowing_fingerprint(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 5,
                          window: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS rolling-hash scheme): hash every character k-gram, then
    keep the minimum hash of each window of ``window`` consecutive
    k-grams; the distinct selected hashes are the fingerprint set.
    Guarantees any shared substring of length >= window + k - 1 yields
    a shared fingerprint, so local plagiarism/quotes are detectable
    where whole-document hashes miss them.

    All built-in expressions (one md5 per k-gram, array HOFs for the
    window minima) — no shuffle at all; the fingerprint set stays with
    the row for downstream bucket joins. Output: (id, fp_count,
    fp_min, fp_max) summary plus the ``fingerprints`` array."""
    df = parallelize_scan(df)
    txt = F.col(text_col)
    n = F.length(txt)

    def gram_hash(c):
        return (F.conv(F.substring(F.md5(c), 1, 15), 16, 10)
                 .cast("long"))

    grams_expr = F.when(n < k, F.array(gram_hash(txt))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: gram_hash(txt.substr(i, F.lit(k)))))
    # materialize the gram array between stages: the window minima
    # reference it once per window, and an inlined expression would be
    # re-hashed per reference (O(len * window) md5 instead of O(len))
    staged = df.select(F.col(id_col), grams_expr.alias("__grams"))
    grams = F.col("__grams")
    ng = F.size(grams)
    mins = F.when(ng < window, F.array(F.array_min(grams))).otherwise(
        F.transform(
            F.sequence(F.lit(1), ng - window + 1),
            lambda j: F.array_min(F.slice(grams, j, window))))
    fps = F.array_sort(F.array_distinct(mins))
    out = staged.select(F.col(id_col), fps.alias("fingerprints"))
    return out.select(
        id_col, "fingerprints",
        F.size("fingerprints").alias("fp_count"),
        F.element_at("fingerprints", 1).alias("fp_min"),
        F.element_at("fingerprints", -1).alias("fp_max"))


def winnowing_overlap_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 8,
                            window: int = 4, min_shared: int = 2,
                            max_fp_freq: int = 100) -> DataFrame:
    """Document pairs sharing long verbatim substrings — the
    distributed stand-in for suffix-array substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better":
    their dedup removes exact substrings >= 50 tokens via a corpus
    suffix array, which does not distribute; winnowing gives the same
    detection guarantee probabilistically).

    By the winnowing theorem any shared substring of length >=
    ``window + k - 1`` chars yields a shared fingerprint, so a pair
    sharing ``min_shared`` fingerprints shares (at least) that much
    verbatim text. Plan shape is the ngram_jaccard inverted-index
    shape on fingerprint hashes: explode the per-doc fingerprint set
    (computed in one codegen scan, no shuffle), drop boilerplate
    fingerprints above ``max_fp_freq`` doc-frequency via a broadcast
    LEFT ANTI (the stop set is tiny by construction; posting lists are
    not), self-join on the 8-byte hash, count shared per pair. Work is
    posting-list-collision bounded, never |docs|^2."""
    # explode_OUTER on purpose: plain explode lets Spark's
    # InferFiltersFromGenerate add `size(fingerprints) > 0`, and
    # predicate pushdown then substitutes the whole fingerprint
    # expression through the staging projects — re-inlining the
    # O(len * window) mins computation into a per-row Filter (measured
    # 60x: 1.4 s -> 91 s on sf0.01). Outer explode infers nothing; the
    # null rows (docs with zero fingerprints — impossible here, every
    # doc yields >= 1) are dropped above the Generate.
    fps = (winnowing_fingerprint(df, text_col, id_col, k, window)
           .select(F.col(id_col),
                   F.explode_outer("fingerprints").alias("fp"))
           .filter(F.col("fp").isNotNull()))
    stop = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_fp_freq)
            .select("fp"))
    kept = fps.join(F.broadcast(stop), "fp", "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    return (a.join(b, [F.col("a.fp") == F.col("b.fp"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def normalize(df: DataFrame, text_col: str = "text",
              out_col: str = "text_norm") -> DataFrame:
    """Canonical text normalization for dedup/quality pipelines:
    lowercase, strip everything but alphanumerics and whitespace,
    collapse runs of whitespace, trim. Single codegen projection; the
    regexes use only class syntax shared by Java regex and RE2 so any
    engine reproduces the output byte-for-byte."""
    df = parallelize_scan(df)
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


def pii_scrub(df: DataFrame, text_col: str = "text",
              out_col: str = "text_scrubbed") -> DataFrame:
    """Redact common PII shapes (emails, IPv4 addresses, long digit
    runs e.g. phone/account numbers) with typed placeholder tokens.
    Pure regexp_replace chain — one codegen projection, no UDFs; the
    patterns avoid lookaround so Java regex and RE2 agree."""
    df = parallelize_scan(df)
    c = F.col(text_col)
    c = F.regexp_replace(
        c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>")
    c = F.regexp_replace(
        c, r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>")
    c = F.regexp_replace(c, r"\b\d{7,}\b", "<NUMBER>")
    return df.withColumn(out_col, c)


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", size: int = 32,
                    stride: int = 24) -> DataFrame:
    """RAG-style overlapping token chunks: windows of ``size``
    whitespace tokens starting every ``stride`` tokens (the final
    window may be short). Output one row per (doc, chunk_idx) with the
    chunk text and its token count.

    Plan shape: tokenization + window arithmetic happen in one
    projection, then a single ``posexplode`` fans out to chunk rows —
    the only row-multiplying step, size/stride bounded (~n_tokens /
    stride rows per doc), and it parallelizes with the scan: no
    shuffle until a downstream aggregation asks for one."""
    df = parallelize_scan(df)
    toks = F.expr(_tokens(text_col))
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.array_join(F.slice(F.col("__toks"), s + 1, size), " "))
    out = staged.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.when(F.col("chunk_text") == "", F.lit(0)).otherwise(
            F.size(F.split(F.col("chunk_text"), " ")))
        .cast("int").alias("chunk_tokens"))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", top_k: int = 5,
                    round_to: int = 4) -> DataFrame:
    """Per-document top-k TF-IDF terms (smoothed sklearn-style idf).

    ``score = tf * (ln((N + 1) / (df + 1)) + 1)`` over lowercased
    whitespace terms. Ranking is ``row_number`` over
    ``(round(score, 6) DESC, term ASC)`` — the explicit rounding plus
    the total lexicographic tiebreak makes the cut engine-independent
    (equal (tf, df) pairs produce bit-identical doubles in any IEEE
    engine; the 6-dp guard absorbs sub-ulp library drift in ``ln``).

    Shape at scale: one tokenize+explode pass feeds a (doc, term)
    count — partial-aggregated map-side, one shuffle on (doc, term).
    Document frequency is a window count over that tf table
    partitioned by term — NEVER a second corpus pass: the r16
    groupBy(term)+join shape let Catalyst prune the unused tf column
    out of the dfreq branch, which made the two (doc, term) exchanges
    structurally different, defeated ReuseExchange, and silently
    tokenized + shuffled the whole corpus twice (visible as two Scan
    parquet subtrees in ``git show
    e5b1048:plans/r17/tfidf_top_terms_before.txt``; guide
    §2.4). The corpus doc count joins in as a broadcast single-row
    aggregate, and the final top-k is one window shuffle on the doc
    id. Three keyed shuffles total, each on a natural key; no driver
    state, no collects.
    """
    from pyspark.sql.window import Window

    from apache_druid_spark.pipeline._util import guarded_explode

    staged = parallelize_scan(df).selectExpr(
        ident(id_col), f"{_tokens(text_col)} AS __toks")
    # guarded_explode: keeps InferFiltersFromGenerate from duplicating
    # the tokenize tree into a pushed-down pre-filter (_util docstring)
    tf = (staged.selectExpr(ident(id_col),
                            f"{guarded_explode('__toks')} AS term")
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (tf.withColumn(
                  "df", F.count(F.lit(1)).over(Window.partitionBy("term")))
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "score",
                  F.col("tf") * (F.log((F.col("__n_docs") + F.lit(1.0))
                                       / (F.col("df") + F.lit(1.0)))
                                 + F.lit(1.0))))
    w = (Window.partitionBy(id_col)
         .orderBy(F.round("score", 6).desc(), F.col("term").asc()))
    return (scored.withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= F.lit(int(top_k)))
            .select(id_col, "term", "tf",
                    F.col("df").alias("term_df"),
                    F.round("score", round_to).alias("tfidf"),
                    F.col("term_rank").cast("int").alias("term_rank")))
