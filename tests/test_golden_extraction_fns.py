"""Golden tests ported from the reference's per-extraction-fn suites
(processing/src/test/java/org/apache/druid/query/extraction/):
RegexDimExtractionFnTest (9 methods, 8 ported), SubstringDimExtractionFnTest
(7/4), StrlenExtractionFnTest (4/1), BucketExtractionFnTest (4/1),
LowerExtractionFnTest (3/1), UpperExtractionFnTest (3/1),
StringFormatExtractionFnTest (6/4), MatchingDimExtractionFnTest (3/2),
SearchQuerySpecDimExtractionFnTest (4/2), TimeDimExtractionFnTest (5/3),
TimeFormatExtractionFnTest (6/2).

Skips are serde/cache-key/hashCode/equals JVM contracts, plus the two
LOCALIZED TimeFormat methods (Icelandic/German weekday names):
Spark's date_format renders in the session locale and a locale
argument would need a UDF — documented divergence, not silent.
JavaScriptExtractionFnTest, FunctionalExtractionTest (a test-framework
matrix over a Java Function), MapLookupExtractionFnSerDeTest and
MapLookupExtractorTest (extractor-object internals; the lookup
behavior is pinned by the filter-suite ports) complete the directory
accounting. All expectations are the sqlCompatible branches.

Harness: apply the fn as a Column over a one-column DataFrame —
the engine's analog of ExtractionFn.apply(value).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F, types as T

from apache_druid_spark.operators.dimensions import compile_extraction_fn

PATHS = ["/druid/prod/historical", "/druid/prod/broker",
         "/druid/prod/coordinator", "/druid/demo/historical",
         "/druid/demo/broker", "/druid/demo/coordinator",
         "/dash/aloe", "/dash/baloo"]

WORDS = ["apple", "awesome", "asylum", "business", "be", "cool"]


def apply_fn(spark, fn, values, dtype="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {dtype}")
    if dtype == "long" and fn.get("type") in ("timeFormat",):
        out = compile_extraction_fn(fn, "timestamp_millis(v)")
    else:
        out = compile_extraction_fn(fn, "v")
    return [r["o"] for r in df.select(F.expr(out).alias("o")).collect()]


def regex(expr, index=1, replace=False, replace_with=None):
    f = {"type": "regex", "expr": expr, "index": index,
         "replaceMissingValue": replace}
    if replace_with is not None:
        f["replaceMissingValueWith"] = replace_with
    return f


# ---------------------------------------------------------- regex

def test_regex_path_extraction(spark):
    # testPathExtraction
    assert set(apply_fn(spark, regex(r"/([^/]+)/"), PATHS)) == \
        {"druid", "dash"}


def test_regex_deeper_path_extraction(spark):
    # testDeeperPathExtraction
    assert set(apply_fn(spark, regex(r"^/([^/]+/[^/]+)(/|$)"), PATHS)) == \
        {"druid/prod", "druid/demo", "dash/aloe", "dash/baloo"}


def test_regex_index_zero(spark):
    # testIndexZero: group 0 is the whole match
    assert set(apply_fn(spark, regex(r"/([^/]{4})/", index=0), PATHS)) == \
        {"/prod/", "/demo/", "/dash/"}


def test_regex_index_two(spark):
    # testIndexTwo
    assert set(apply_fn(spark, regex(r"^/([^/]+)/([^/]+)", index=2),
                        PATHS)) == {"prod", "demo", "aloe", "baloo"}


def test_regex_string_extraction(spark):
    # testStringExtraction: '(.)' finds the first character
    assert set(apply_fn(spark, regex("(.)"), WORDS)) == {"a", "b", "c"}


def test_regex_null_and_empty(spark):
    # testNullAndEmpty (sqlCompatible): a no-match keeps the input, an
    # EMPTY MATCH yields ''
    fn = regex("(.*)/.*/.*")
    assert apply_fn(spark, fn, ["", None, "/a/b"]) == ["", None, ""]


def test_regex_missing_value_replacement_when_pattern_does_not_match_null(spark):
    # testMissingValueReplacementWhenPatternDoesNotMatchNull
    fn = regex("(bob)", replace=True, replace_with="NO MATCH")
    assert apply_fn(spark, fn, ["", None, "abc", "bob"]) == \
        ["NO MATCH", "NO MATCH", "NO MATCH", "bob"]


def test_regex_missing_value_replacement_when_pattern_matches_null(spark):
    # testMissingValueReplacementWhenPatternMatchesNull (sqlCompatible:
    # '' matches ^()$ and extracts to ''; null is a miss)
    fn = regex("^()$", replace=True, replace_with="NO MATCH")
    assert apply_fn(spark, fn, ["", None, "abc"]) == \
        ["", "NO MATCH", "NO MATCH"]


def test_regex_missing_value_replacement(spark):
    # testMissingValueReplacement + testMissingValueReplacementToEmpty
    fn = regex(r"(a\w*)", replace=True, replace_with="foobar")
    assert apply_fn(spark, fn, WORDS) == \
        ["apple", "awesome", "asylum", "foobar", "foobar", "foobar"]
    fn2 = regex("(bob)", replace=True, replace_with="")
    assert apply_fn(spark, fn2, [None, "", "abc", "123", "bobby"]) == \
        ["", "", "", "", "bob"]


# ------------------------------------------------------- substring

def test_substrings(spark):
    # testSubstrings: index 1, length 3; too-short inputs are null
    fn = {"type": "substring", "index": 1, "length": 3}
    assert apply_fn(spark, fn, ["apple", "be", "cool", "a"]) == \
        ["ppl", "e", "ool", None]


def test_substring_zero_length(spark):
    # testZeroLength: build-time IllegalArgumentException
    with pytest.raises(ValueError):
        compile_extraction_fn({"type": "substring", "index": 1,
                               "length": 0}, "'x'")


def test_substring_no_length(spark):
    # testNoLength: remainder; empty remainder is null
    fn = {"type": "substring", "index": 1}
    assert apply_fn(spark, fn, ["/abcdef", "/"]) == ["abcdef", None]


def test_substring_null_and_empty(spark):
    # testNullAndEmpty
    fn = {"type": "substring", "index": 2, "length": 4}
    assert apply_fn(spark, fn, ["", None, "/a"]) == [None, None, None]


# ---------------------------------------------------------- strlen

def test_strlen_apply(spark):
    # testApply (sqlCompatible: null stays null). Divergence note: the
    # reference counts Java UTF-16 units (an emoji is '2'); Spark's
    # length counts CODEPOINTS, so the surrogate-pair literal is '1'
    # here — documented, not silent.
    fn = {"type": "strlen"}
    assert apply_fn(spark, fn, [None, "", "x", "foo", "föo"]) == \
        [None, "0", "1", "3", "3"]
    assert apply_fn(spark, fn, ["\U0001F602"]) == ["1"]
    assert apply_fn(spark, fn, [1, -1], dtype="long") == ["1", "2"]


# ---------------------------------------------------------- bucket

def test_bucket_apply(spark):
    # testApply: integral buckets render without a decimal point;
    # unparseable inputs are null
    fn1 = {"type": "bucket", "size": 100.0, "offset": 0.5}
    assert apply_fn(spark, fn1,
                    ["1234.99", "1", "100", "501", "-325", "2.42e3",
                     "1.2e-1", "should be null", ""]) == \
        ["1200.5", "0.5", "0.5", "500.5", "-399.5", "2400.5", "-99.5",
         None, None]
    fn2 = {"type": "bucket", "size": 3.0, "offset": 2.0}
    assert apply_fn(spark, fn2, ["2", "3", "4.22", "-8", "7.1e1"]) == \
        ["2", "2", "2", "-10", "71"]


# ----------------------------------------------------- lower/upper

def test_lower_apply(spark):
    # LowerExtractionFnTest.testApply (sqlCompatible)
    fn = {"type": "lower"}
    assert apply_fn(spark, fn, ["lOwER 1 String", "", None]) == \
        ["lower 1 string", "", None]
    assert apply_fn(spark, fn, [1], dtype="long") == ["1"]


def test_upper_apply(spark):
    # UpperExtractionFnTest.testApply (sqlCompatible)
    fn = {"type": "upper"}
    assert apply_fn(spark, fn, ["uPpeR", "", None]) == ["UPPER", "", None]
    assert apply_fn(spark, fn, [1], dtype="long") == ["1"]


# ---------------------------------------------------- stringFormat

def test_string_format_apply(spark):
    # testApply
    fn = {"type": "stringFormat", "format": "[%s]"}
    assert apply_fn(spark, fn, [1000], dtype="long") == ["[1000]"]


def test_string_format_apply_null1(spark):
    # testApplyNull1
    mk = lambda nh: {"type": "stringFormat", "format": "[%s]",  # noqa: E731
                     "nullHandling": nh}
    assert apply_fn(spark, mk("nullString"), [None]) == ["[null]"]
    assert apply_fn(spark, mk("emptyString"), [None]) == ["[]"]
    assert apply_fn(spark, mk("returnNull"), [None]) == [None]


def test_string_format_apply_null2(spark):
    # testApplyNull2 (sqlCompatible: emptyToNullIfNeeded('') is '')
    mk = lambda nh: {"type": "stringFormat", "format": "%s",  # noqa: E731
                     "nullHandling": nh}
    assert apply_fn(spark, mk("nullString"), [None]) == ["null"]
    assert apply_fn(spark, mk("emptyString"), [None]) == [""]
    assert apply_fn(spark, mk("returnNull"), [None]) == [None]


def test_string_format_invalid_option(spark):
    # testInvalidOption1: empty format is a build-time error
    with pytest.raises(ValueError):
        compile_extraction_fn({"type": "stringFormat", "format": ""},
                              "'x'")


# ------------------------------------------------ partial (matching)

CITIES = ["Quito", "Calgary", "Tokyo", "Stockholm", "Vancouver",
          "Pretoria", "Wellington", None, "Ontario"]


def test_matching_extraction(spark):
    # MatchingDimExtractionFnTest.testExtraction
    fn = {"type": "partial", "expr": ".*[Tt][Oo].*"}
    got = [v for v in apply_fn(spark, fn, CITIES) if v is not None]
    assert sorted(got) == sorted(
        ["Quito", "Tokyo", "Stockholm", "Pretoria", "Wellington"])


def test_matching_null_extraction(spark):
    # testNullExtraction (sqlCompatible: '' matches ^$ and survives)
    fn = {"type": "partial", "expr": "^$"}
    assert apply_fn(spark, fn, [None, ""]) == [None, ""]


# ------------------------------------------------------ searchQuery

SEARCH_CITIES = ["Kyoto", "Calgary", "Tokyo", "Stockholm", "Toyokawa",
                 "Pretoria", "Yorktown", "Ontario"]


def test_search_query_spec_extraction(spark):
    # SearchQuerySpecDimExtractionFnTest.testExtraction: fragment spec,
    # case-insensitive, every fragment must appear
    fn = {"type": "searchQuery",
          "query": {"type": "fragment", "values": ["tO", "yO"]}}
    got = [v for v in apply_fn(spark, fn, SEARCH_CITIES) if v is not None]
    assert sorted(got) == sorted(["Kyoto", "Tokyo", "Toyokawa", "Yorktown"])


def test_search_query_spec_contains_extraction(spark):
    # the ContainsSearchQuerySpec variant
    fn = {"type": "searchQuery",
          "query": {"type": "contains", "value": "to",
                    "caseSensitive": True}}
    got = [v for v in apply_fn(spark, fn, SEARCH_CITIES) if v is not None]
    assert sorted(got) == sorted(["Kyoto", "Stockholm", "Pretoria",
                                  "Yorktown"])


# ---------------------------------------------------------- time

TIME_DIMS = ["01/01/2012", "01/02/2012", "03/03/2012", "03/04/2012",
             "05/05/2012", "12/21/2012"]


def test_time_dim_empty_null_and_unparseable_extraction(spark):
    # testEmptyNullAndUnparseableExtraction (sqlCompatible; joda and
    # non-joda parse identically here)
    fn = {"type": "time", "timeFormat": "MM/dd/yyyy",
          "resultFormat": "MM/yyyy", "joda": True}
    assert apply_fn(spark, fn, [None, "", "foo"]) == [None, "", "foo"]


def test_time_dim_month_extraction(spark):
    # testMonthExtraction + testMonthExtractionJoda
    fn = {"type": "time", "timeFormat": "MM/dd/yyyy",
          "resultFormat": "MM/yyyy", "joda": False}
    months = set(apply_fn(spark, fn, TIME_DIMS))
    assert months == {"01/2012", "03/2012", "05/2012", "12/2012"}


TIMESTAMPS = [int(datetime(2015, 1, 1, 23, tzinfo=timezone.utc).timestamp() * 1000),
              int(datetime(2015, 1, 2, 23, tzinfo=timezone.utc).timestamp() * 1000),
              int(datetime(2015, 3, 3, 23, tzinfo=timezone.utc).timestamp() * 1000),
              int(datetime(2015, 3, 4, 23, tzinfo=timezone.utc).timestamp() * 1000),
              int(datetime(2015, 5, 2, 23, tzinfo=timezone.utc).timestamp() * 1000),
              int(datetime(2015, 12, 21, 23, tzinfo=timezone.utc).timestamp() * 1000)]


def test_time_format_day_of_week_extraction(spark):
    # TimeFormatExtractionFnTest.testDayOfWeekExtraction
    fn = {"type": "timeFormat", "format": "EEEE"}
    assert apply_fn(spark, fn, TIMESTAMPS, dtype="long") == \
        ["Thursday", "Friday", "Tuesday", "Wednesday", "Saturday", "Monday"]


def test_time_format_granular_extraction_with_null_pattern(spark):
    # testGranularExtractionWithNullPattern: null format renders the
    # granularity-floored ISO instant
    fn = {"type": "timeFormat", "granularity": "day"}
    assert apply_fn(spark, fn, TIMESTAMPS, dtype="long") == \
        ["2015-01-01T00:00:00.000Z", "2015-01-02T00:00:00.000Z",
         "2015-03-03T00:00:00.000Z", "2015-03-04T00:00:00.000Z",
         "2015-05-02T00:00:00.000Z", "2015-12-21T00:00:00.000Z"]
