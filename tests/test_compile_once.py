"""The curation chain compiles once, and its SQL-text projections are
row-exact against the Column-API form they replaced.

- A warm pass of the six chain operators (the ``pipeline`` benchmark
  workload) makes no Janino compilation: the session's codegen cache
  holds the chain's whole working set.
- The operators that build higher-order-function projections as SQL
  text return the same multiset of rows as the Column-API builders
  kept below as the reference, on the sf0.001 documents and on a small
  edge frame.
- Building them calls no Python-lambda ``F.transform``/``F.filter``/
  ``F.aggregate``.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_druid_spark import DatasourceRegistry
from apache_druid_spark import pipeline as P
from apache_druid_spark.pipeline._util import ident, parallelize_scan, sql_str
from apache_druid_spark.pipeline.decontam import decontaminate
from apache_druid_spark.pipeline.dedup import (
    _MERSENNE_P, _hash_coeffs, simhash,
)
from apache_druid_spark.pipeline.importance import (
    _ratios_from_counts, _weight_expr,
)
from apache_druid_spark.pipeline.text import GOPHER_STOPWORDS, top_ngrams


# -- Column-API reference builders (the form the SQL text replaced) ----


def _ref_tokens(text_col):
    return F.filter(F.split(text_col, r"\s+"), lambda t: t != "")


def _ref_lower_tokens(text_col):
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def _ref_shingles(toks, k):
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(F.sequence(F.lit(0), n - k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))))


def _ref_guarded_explode(arr):
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.explode(F.when(F.size(arr) >= 0, arr))


def _ref_staged_explode(df, keep, arr, out_name):
    staged = df.select(*keep, arr.alias("__arr"))
    return staged.select(*keep, _ref_guarded_explode("__arr").alias(out_name))


def _h60(c):
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def ref_minhash_lsh_pairs(df, num_hashes=16, bands=4, shingle_k=3,
                          max_bucket_size=1000):
    staged = parallelize_scan(df).select(
        F.col("doc_id"), _ref_tokens(F.col("text")).alias("__toks"))
    base = F.transform(
        _ref_shingles(F.col("__toks"), shingle_k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"))
    hashed = staged.select(F.col("doc_id"), base.alias("__h"))

    def universal(a, b):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)

    sig = F.array(*[F.array_min(F.transform(F.col("__h"), universal(a, b)))
                    for a, b in _hash_coeffs(num_hashes)])
    sigs = hashed.select(F.col("doc_id"), sig.alias("minhash"))
    rows = num_hashes // bands
    banded = sigs.select(
        F.col("doc_id"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *[
                         F.col("minhash")[b * rows + r]
                         for r in range(rows)])).alias("bucket"))
            for b in range(bands)])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    buckets = (banded.groupBy("band", "bucket")
               .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
               .filter((F.size("ids") > 1)
                       & (F.size("ids") <= max_bucket_size)))
    pairs = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (buckets.select(F.explode(pairs).alias("p"))
            .select("p.id_a", "p.id_b").distinct())


def ref_ngram_jaccard_pairs(df, shingle_k=3, threshold=0.8,
                            max_shingle_freq=1000):
    staged = parallelize_scan(df).select(
        F.col("doc_id"), _ref_tokens(F.col("text")).alias("__toks"))
    posting = _ref_staged_explode(
        staged, [F.col("doc_id")],
        F.array_distinct(_ref_shingles(F.col("__toks"), shingle_k)),
        "shingle").select(F.col("doc_id"), _h60("shingle").alias("h"))
    stop = (posting.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_freq).select("h"))
    sh = (posting.join(F.broadcast(stop), "h", "left_anti")
          .withColumn("set_size",
                      F.count(F.lit(1)).over(Window.partitionBy("doc_id"))))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (a.join(b, [F.col("a.h") == F.col("b.h"),
                         F.col("a.doc_id") < F.col("b.doc_id")])
              .groupBy(F.col("a.doc_id").alias("id_a"),
                       F.col("b.doc_id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("shared"),
                   F.min("a.set_size").alias("__size_a"),
                   F.min("b.set_size").alias("__size_b")))
    out = shared.select(
        "id_a", "id_b",
        (F.col("shared")
         / (F.col("__size_a") + F.col("__size_b") - F.col("shared"))
         ).alias("jaccard"))
    return out.filter(F.col("jaccard") >= threshold)


def ref_tfidf_top_terms(df, top_k=5, round_to=4):
    staged = parallelize_scan(df).select(
        F.col("doc_id"), _ref_lower_tokens(F.col("text")).alias("__toks"))
    tf = (staged.select(F.col("doc_id"),
                        _ref_guarded_explode("__toks").alias("term"))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (tf.withColumn(
                  "df", F.count(F.lit(1)).over(Window.partitionBy("term")))
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "score",
                  F.col("tf") * (F.log((F.col("__n_docs") + F.lit(1.0))
                                       / (F.col("df") + F.lit(1.0)))
                                 + F.lit(1.0))))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.round("score", 6).desc(), F.col("term").asc()))
    return (scored.withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= F.lit(int(top_k)))
            .select("doc_id", "term", "tf", F.col("df").alias("term_df"),
                    F.round("score", round_to).alias("tfidf"),
                    F.col("term_rank").cast("int").alias("term_rank")))


def ref_importance_weights(raw, target_predicate, n_buckets=1024,
                           ngrams=(1, 2), round_to=4):
    staged = parallelize_scan(raw).select(
        F.col("doc_id"), target_predicate.alias("__tgt"),
        _ref_tokens(F.col("text")).alias("__toks"))
    grams = _ref_staged_explode(
        staged, [F.col("doc_id"), F.col("__tgt")],
        F.flatten(F.array(*[_ref_shingles(F.col("__toks"), n)
                            for n in ngrams])), "__gram")
    doc_grams = grams.select(
        "doc_id", "__tgt",
        F.pmod(_h60("__gram"), F.lit(n_buckets)).alias("bucket"))
    counts = doc_grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.count(F.when(F.col("__tgt"), 1)).alias("c_tgt"))
    ratios = _ratios_from_counts(counts, n_buckets)
    return (doc_grams.join(F.broadcast(ratios), "bucket")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 _weight_expr(round_to).alias("weight")))


def ref_gopher_rules(df, min_words=50, max_words=100_000):
    df = parallelize_scan(df)
    text = F.col("text")
    staged = df.select(
        "doc_id",
        _ref_lower_tokens(text).alias("__toks"),
        F.filter(F.split(text, "\n"),
                 lambda ln: F.trim(ln) != "").alias("__lines"),
        (F.length(text) - F.length(F.regexp_replace(text, "#", ""))
         + F.regexp_count(text, F.lit(r"(\.\.\.|…)"))
         ).cast("long").alias("__symbols"),
    )
    toks, lines = F.col("__toks"), F.col("__lines")
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike("^[•*-]"))).cast("long")
    ellipsis_lines = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"))).cast("long")
    alpha_words = F.size(F.filter(
        toks, lambda t: t.rlike("[a-z]"))).cast("long")
    stops = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_distinct = F.size(
        F.array_intersect(F.array_distinct(toks), stops)).cast("long")

    def b(c):
        return c.cast("int")

    r_words = b((n_words >= min_words) & (n_words <= max_words))
    r_mean_len = b((word_chars >= 3 * n_words)
                   & (word_chars <= 10 * n_words) & (n_words > 0))
    r_symbols = b(F.lit(10) * F.col("__symbols") <= n_words)
    r_bullets = b(F.lit(10) * bullet_lines <= F.lit(9) * n_lines)
    r_ellipsis = b(F.lit(10) * ellipsis_lines <= F.lit(3) * n_lines)
    r_alpha = b(F.lit(5) * alpha_words >= F.lit(4) * n_words)
    r_stops = b(stop_distinct >= 2)
    return staged.select(
        "doc_id", n_words.alias("n_words"), word_chars.alias("word_chars"),
        r_words.alias("r_word_count"), r_mean_len.alias("r_mean_word_len"),
        r_symbols.alias("r_symbol_ratio"), r_bullets.alias("r_bullet_lines"),
        r_ellipsis.alias("r_ellipsis_lines"), r_alpha.alias("r_alpha_words"),
        r_stops.alias("r_stop_words"),
        (r_words * r_mean_len * r_symbols * r_bullets * r_ellipsis
         * r_alpha * r_stops).alias("pass_gopher"))


def ref_top_ngrams(df, ngram=3, k=20):
    staged = parallelize_scan(df).select(
        _ref_tokens(F.col("text")).alias("__toks"))
    return (_ref_staged_explode(staged, [],
                                _ref_shingles(F.col("__toks"), ngram), "gram")
            .groupBy("gram").agg(F.count(F.lit(1)).alias("occurrences"))
            .orderBy(F.col("occurrences").desc(), F.col("gram").asc())
            .limit(k))


def _ref_gram_hashes(df, id_col, ngram):
    cols = [F.col(id_col)] if id_col else []
    staged = parallelize_scan(df).select(
        *cols, _ref_tokens(F.col("text")).alias("__toks"))
    return (_ref_staged_explode(
        staged, cols,
        F.array_distinct(_ref_shingles(F.col("__toks"), ngram)), "__gram")
        .select(*cols, _h60("__gram").alias("h")))


def ref_decontaminate(train, test, ngram):
    tr = _ref_gram_hashes(train, "doc_id", ngram)
    te = F.broadcast(_ref_gram_hashes(test, None, ngram).distinct()
                     .withColumn("__hit", F.lit(1)))
    bad = (tr.join(te, "h", "left")
           .groupBy("doc_id")
           .agg(F.count("__hit").cast("long").alias("n_contaminated"))
           .filter(F.col("n_contaminated") >= 1)
           .select("doc_id"))
    return train.join(bad, "doc_id", "left_anti")


def ref_simhash(df, bits=32):
    df = parallelize_scan(df)
    base = F.transform(
        _ref_tokens(F.col("text")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"))
    hashed = df.select(F.col("doc_id"), base.alias("__h"))

    def make_vote_step(p):
        def vote_step(acc, h):
            bit = (F.floor(h.cast("double") / F.lit(p)).cast("long") % 2)
            return acc + F.when(bit == 1, 1).otherwise(-1)
        return vote_step

    fp = None
    for i in range(bits):
        vote = F.aggregate(F.col("__h"), F.lit(0),
                           make_vote_step(float(2 ** i)))
        bit_val = F.when(vote > 0, F.lit(2 ** i).cast("long")
                         ).otherwise(F.lit(0).cast("long"))
        fp = bit_val if fp is None else fp + bit_val
    return hashed.select(F.col("doc_id"), fp.alias("simhash"))


# -- fixtures -----------------------------------------------------------

def _en():
    return F.col("lang") == "en"

_EDGE_ROWS = [
    (1, None, "en"),
    (2, "", "en"),
    (3, "two words", "en"),
    (4, "   ", "fr"),
    (5, "Line one trails off...\nLine two trails off…\n• a bullet line\n"
        "- a dash bullet\n* a star bullet\n\n", "en"),
    (6, "Line one trails off...\nLine two trails off…\n• a bullet line\n"
        "- a dash bullet\n* a star bullet\nplus one more", "en"),
    (7, "THE Quick BROWN Fox AND the LAZY dog WITH THAT", "de"),
    (8, "the quick brown fox and the lazy dog with that", "en"),
    (9, "# tag ## more ### symbols ... and … here", "en"),
    (10, "the be to of and that have with " * 8, "en"),
    (11, "the be to of and that have with " * 8, "es"),
    (12, "it's a back\\slash 'quoted' \"word\" line", "en"),
    (13, "• one bullet\n• two bullets\n- three bullets", "en"),
    (14, "123 456 789 000", "en"),
]


@pytest.fixture(scope="module")
def corpora(spark, sf_dir):
    reg = DatasourceRegistry(spark)
    docs = reg.register_parquet("documents",
                                f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame(_EDGE_ROWS,
                                 "doc_id long, text string, lang string")
    return {"sf0.001": docs, "edge": edge}


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


_CASES = {
    "minhash_lsh_pairs": (
        lambda d: P.minhash_lsh_pairs(d),
        lambda d: ref_minhash_lsh_pairs(d)),
    "ngram_jaccard_pairs": (
        lambda d: P.ngram_jaccard_pairs(d, threshold=0.2),
        lambda d: ref_ngram_jaccard_pairs(d, threshold=0.2)),
    "tfidf_top_terms": (
        lambda d: P.tfidf_top_terms(d),
        lambda d: ref_tfidf_top_terms(d)),
    "importance_weights": (
        lambda d: P.importance_weights(d, d.filter(_en()), n_buckets=1024,
                                       target_predicate=_en()),
        lambda d: ref_importance_weights(d, _en())),
    "gopher_rules": (
        lambda d: P.gopher_rules(d, min_words=3),
        lambda d: ref_gopher_rules(d, min_words=3)),
    "top_ngrams": (
        lambda d: top_ngrams(d, ngram=2, k=15),
        lambda d: ref_top_ngrams(d, ngram=2, k=15)),
    "decontaminate": (
        lambda d: decontaminate(d, d.filter(F.col("doc_id") % 7 == 1),
                                ngram=3),
        lambda d: ref_decontaminate(d, d.filter(F.col("doc_id") % 7 == 1),
                                    ngram=3)),
    "simhash": (
        lambda d: simhash(d),
        lambda d: ref_simhash(d)),
}


@pytest.mark.parametrize("corpus", ["sf0.001", "edge"])
@pytest.mark.parametrize("name", sorted(_CASES))
def test_sql_text_matches_column_api(corpora, name, corpus):
    new, ref = _CASES[name]
    docs = corpora[corpus]
    got, want = _rows(new(docs)), _rows(ref(docs))
    assert got == want, (name, corpus, got - want, want - got)


def test_edge_frame_exercises_pairs_and_rules(corpora):
    """The edge frame is not vacuous: duplicates pair up and each gopher
    rule both passes and fails somewhere."""
    edge = corpora["edge"]
    pairs = {(r.id_a, r.id_b) for r in P.minhash_lsh_pairs(edge).collect()}
    assert (10, 11) in pairs
    rules = P.gopher_rules(edge, min_words=3).collect()
    for col in ("r_word_count", "r_symbol_ratio", "r_bullet_lines",
                "r_ellipsis_lines", "r_alpha_words", "r_stop_words"):
        assert {r[col] for r in rules} >= {0, 1}, col


def test_chain_builds_call_no_python_lambda_hofs(corpora, monkeypatch):
    calls = Counter()
    for fn in ("transform", "filter", "aggregate"):
        real = getattr(F, fn)

        def spy(*args, _fn=fn, _real=real, **kwargs):
            calls[_fn] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(F, fn, spy)
    docs = corpora["edge"]
    for name in ("minhash_lsh_pairs", "ngram_jaccard_pairs",
                 "tfidf_top_terms", "importance_weights", "gopher_rules"):
        _CASES[name][0](docs)
    assert not calls, dict(calls)
    # the spies do see the Column-API reference builders
    ref_gopher_rules(docs)
    assert calls["filter"] and calls["aggregate"]


# -- codegen working set ------------------------------------------------


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_chain_pass_compiles_nothing(spark, corpora):
    """The six pipeline-workload operators, run twice over the sf0.001
    documents: the second pass finds every generated class in the
    codegen cache (with Spark's 100-entry default it recompiled 92)."""
    docs = corpora["sf0.001"]
    chain = [P.exact_dedup, P.minhash_lsh_pairs, P.ngram_jaccard_pairs,
             P.tfidf_top_terms,
             _CASES["importance_weights"][0],
             P.gopher_rules]
    passes = []
    for _ in range(2):
        before = _compiles(spark)
        digests = [hashlib.md5(repr(sorted(_rows(op(docs)).items()))
                               .encode()).hexdigest() for op in chain]
        passes.append((_compiles(spark) - before, digests))
    assert passes[0][1] == passes[1][1]
    assert passes[1][0] == 0, f"second pass compiled {passes[1][0]} classes"


# -- identifiers and literals -------------------------------------------


def test_sql_quoting_round_trips(spark):
    assert ident("a`b") == "`a``b`"
    value = "it's a back\\slash \\s+ 'x'"
    got = spark.range(1).selectExpr(f"{sql_str(value)} AS v").first().v
    assert got == value
    df = spark.createDataFrame([(1, "x")], ["we`ird id", "t"])
    assert df.selectExpr(ident("we`ird id")).first()[0] == 1


@pytest.mark.parametrize("op", ["gopher_rules", "c4_filters"])
def test_rules_take_id_col(corpora, op):
    """gopher_rules and c4_filters key their output on ``id_col``, as
    every other operator does, not on a hard-coded ``doc_id``."""
    docs = corpora["edge"]
    fn = getattr(P, op)
    renamed = docs.withColumnRenamed("doc_id", "page id")
    got = fn(renamed, id_col="page id")
    assert got.columns[0] == "page id"
    want = fn(docs).withColumnRenamed("doc_id", "page id")
    assert _rows(got) == _rows(want)
