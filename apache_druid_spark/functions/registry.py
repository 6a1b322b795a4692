"""Druid SQL function bodies, as data.

Reference operator table: sql/src/main/java/org/apache/druid/sql/calcite/
planner/DruidOperatorTable.java (14 time operators at lines 160-175, MV_*
conversions in sql/.../expression/builtin/MultiValueStringOperatorConversions.java:54-302).

Each entry is (NAME, parameters, return type, body), the body Spark SQL
over the parameter names. Nothing here is registered with Spark:
sql/dialect.py inlines a call of NAME as its body, each argument cast
to its parameter's type (an ``ANY`` parameter keeps its argument's)
and the result to the return type, so the plan
is the hand-written Spark SQL. A body may call an earlier entry, which
is expanded in place, and holds no backslash, so it reads the same in
Druid and in Spark string-literal form.

``FUNCTION_BODIES`` are the entries of the dialect's inline table.
``PERIOD_BODIES`` are TIME_FLOOR/TIME_SHIFT/TIME_CEIL by a period read
per row: the dialect's time rules use them for a NON-literal period
only, in the wall clock of the zone they wrap. TIME_FLOOR by a compound
period floors to months.
"""

from __future__ import annotations

from apache_druid_spark.functions.bloom import bloom_test_sql
from apache_druid_spark.model.granularity import EPOCH_MONTHS

# The ISO-8601 period argument `period` read per row: field i of the
# pattern (1=Y 2=M 3=W 4=D 5=H 6=Min 7=S) as an INT, 0 when absent
_PERIOD_RE_SQL = r"'^P(?:([0-9]+)Y)?(?:([0-9]+)M)?(?:([0-9]+)W)?(?:([0-9]+)D)?(?:T(?:([0-9]+)H)?(?:([0-9]+)M)?(?:([0-9]+)S)?)?$'"


def _field(i: int) -> str:
    return (f"coalesce(try_cast(regexp_extract(period, {_PERIOD_RE_SQL}, "
            f"{i}) AS INT), 0)")


_MONTHS = f"({_field(1)} * 12 + {_field(2)})"
_MILLIS = "(" + " + ".join(
    f"{_field(i)} * {ms}L" for i, ms in
    ((3, 604_800_000), (4, 86_400_000), (5, 3_600_000), (6, 60_000),
     (7, 1000))) + ")"
# months since year 0, floored to a multiple of the period's months
# counted from the epoch
_MONTH_FLOOR = (f"(year(ts) * 12 + month(ts) - 1 - "
                f"pmod(year(ts) * 12 + month(ts) - {EPOCH_MONTHS + 1}, "
                f"{_MONTHS}))")


PERIOD_BODIES: list[tuple[str, str, str, str]] = [
    # P1W floors to Monday; other periods from the epoch
    ("TIME_FLOOR", "ts TIMESTAMP, period STRING", "TIMESTAMP",
     f"""CASE WHEN upper(period) = 'P1W' THEN date_trunc('WEEK', ts)
          WHEN {_MONTHS} > 0 THEN make_timestamp(
            CAST(floor({_MONTH_FLOOR} / 12) AS INT),
            CAST(pmod({_MONTH_FLOOR}, 12) + 1 AS INT), 1, 0, 0, 0)
          ELSE timestamp_millis(unix_millis(ts)
                                - pmod(unix_millis(ts), {_MILLIS})) END"""),
    # interval addition: months, then days, then time (chronology.add)
    ("TIME_SHIFT", "ts TIMESTAMP, period STRING, step BIGINT", "TIMESTAMP",
     "ts + make_interval(" + ", ".join(
         f"CAST({_field(i)} * step AS INT)" for i in range(1, 8)) + ")"),
    ("TIME_CEIL", "ts TIMESTAMP, period STRING", "TIMESTAMP",
     """CASE WHEN TIME_FLOOR(ts, period) = ts THEN ts
          ELSE TIME_SHIFT(TIME_FLOOR(ts, period), period, 1) END"""),
]

FUNCTION_BODIES: list[tuple[str, str, str, str]] = [
    # -- multi-value string functions (ARRAY<STRING> columns) ------------
    ("MV_LENGTH", "a ARRAY<STRING>", "INT", "size(a)"),
    ("MV_OFFSET", "a ARRAY<STRING>, i INT", "STRING", "get(a, i)"),
    ("MV_ORDINAL", "a ARRAY<STRING>, i INT", "STRING", "get(a, i - 1)"),
    ("MV_CONTAINS", "a ARRAY<STRING>, v STRING", "BOOLEAN",
     "array_contains(a, v)"),
    ("MV_OVERLAP", "a ARRAY<STRING>, b ARRAY<STRING>", "BOOLEAN",
     "arrays_overlap(a, b)"),
    ("MV_OFFSET_OF", "a ARRAY<STRING>, v STRING", "INT",
     "CASE WHEN array_position(a, v) = 0 THEN NULL ELSE CAST(array_position(a, v) - 1 AS INT) END"),
    ("MV_ORDINAL_OF", "a ARRAY<STRING>, v STRING", "INT",
     "CASE WHEN array_position(a, v) = 0 THEN NULL ELSE CAST(array_position(a, v) AS INT) END"),
    ("MV_APPEND", "a ARRAY<STRING>, v STRING", "ARRAY<STRING>",
     "array_append(a, v)"),
    ("MV_PREPEND", "v STRING, a ARRAY<STRING>", "ARRAY<STRING>",
     "array_prepend(a, v)"),
    ("MV_CONCAT", "a ARRAY<STRING>, b ARRAY<STRING>", "ARRAY<STRING>",
     "concat(a, b)"),
    ("MV_SLICE", "a ARRAY<STRING>, s INT, e INT", "ARRAY<STRING>",
     "slice(a, s + 1, e - s)"),
    ("MV_TO_STRING", "a ARRAY<STRING>, d STRING", "STRING",
     "array_join(a, d)"),
    ("STRING_TO_MV", "s STRING, d STRING", "ARRAY<STRING>", "split(s, d)"),
    # MV_TO_ARRAY is the identity here: multi-value dims ARE array
    # columns in this engine (MultiValueStringOperatorConversions.java
    # MV_TO_ARRAY reinterprets the MV column as ARRAY — same value)
    ("MV_TO_ARRAY", "a ARRAY<STRING>", "ARRAY<STRING>", "a"),
    # ARRAY_* arithmetic shims (Array{OffsetOf,OrdinalOf}
    # OperatorConversion.java): the needle cast to the array's element
    # type (Function.ArrayOffsetOfFunction castTo), so 2 is found in
    # [1.0, 2.0] and '2' in an ARRAY<STRING>, where 2.0 is not. The
    # argument's Spark type picks the branch (``typeof`` folds when the
    # plan is optimized), and the needle stays outside any lambda, so a
    # subquery needle still analyzes. The direct name maps live in
    # sql/dialect.py _RENAMES, and ARRAY_SLICE and ARRAY_CONCAT, which
    # keep the element type, in its _INLINE.
    ("ARRAY_ORDINAL_OF", "a ANY, v ANY", "INT",
     "nullif(CASE WHEN typeof(a) = 'array<string>' "
     "THEN array_position(CAST(a AS ARRAY<STRING>), CAST(v AS STRING)) "
     "WHEN typeof(a) IN ('array<tinyint>', 'array<smallint>', "
     "'array<int>', 'array<bigint>') "
     "THEN array_position(CAST(a AS ARRAY<BIGINT>), CAST(v AS BIGINT)) "
     "ELSE array_position(CAST(a AS ARRAY<DOUBLE>), CAST(v AS DOUBLE)) "
     "END, 0)"),
    ("ARRAY_OFFSET_OF", "a ANY, v ANY", "INT", "ARRAY_ORDINAL_OF(a, v) - 1"),
    # a filter result with no surviving elements is NULL, not []: the
    # native ListFilteredVirtualColumn selector treats a 0-length row
    # as null (pinned by CalciteMultiValueStringQueryTest
    # testMultiValueListFilterComposed, which documents the divergence
    # from the plain array_filter expression)
    ("MV_FILTER_ONLY", "a ARRAY<STRING>, keep ARRAY<STRING>", "ARRAY<STRING>",
     "nullif(filter(a, __el -> array_contains(keep, __el)), array())"),
    ("MV_FILTER_NONE", "a ARRAY<STRING>, drop ARRAY<STRING>", "ARRAY<STRING>",
     "nullif(filter(a, __el -> NOT array_contains(drop, __el)), array())"),
    # -- string / math shims ---------------------------------------------
    ("TEXTCAT", "a STRING, b STRING", "STRING", "concat(a, b)"),
    ("CONTAINS_STRING", "h STRING, n STRING", "BOOLEAN", "contains(h, n)"),
    ("ICONTAINS_STRING", "h STRING, n STRING", "BOOLEAN",
     "contains(lower(h), lower(n))"),
    ("PARSE_LONG", "s STRING", "BIGINT", "try_cast(s AS BIGINT)"),
    # SafeDivideExprMacro.java: denominator 0 yields NULL, except
    # 0/0 which yields 0 (CalciteSelectQueryTest.testSafeDivide
    # Expressions row 3)
    ("SAFE_DIVIDE", "a DOUBLE, b DOUBLE", "DOUBLE",
     "CASE WHEN b = 0 THEN CASE WHEN a = 0 THEN 0 ELSE NULL END "
     "ELSE a / b END"),
    ("BITWISE_AND", "a BIGINT, b BIGINT", "BIGINT", "a & b"),
    ("BITWISE_OR", "a BIGINT, b BIGINT", "BIGINT", "a | b"),
    ("BITWISE_XOR", "a BIGINT, b BIGINT", "BIGINT", "a ^ b"),
    ("BITWISE_COMPLEMENT", "a BIGINT", "BIGINT", "~a"),
    ("BITWISE_SHIFT_LEFT", "a BIGINT, n INT", "BIGINT", "shiftleft(a, n)"),
    ("BITWISE_SHIFT_RIGHT", "a BIGINT, n INT", "BIGINT", "shiftright(a, n)"),
    # IEEE-754 bit reinterpretation in pure arithmetic (Spark has no
    # doubleToRawLongBits builtin): every step is a power-of-two
    # multiply/divide or an integer-valued double below 2^53, so the
    # round trip is EXACT — property-tested against Python's struct in
    # test_expressions.py. (BitwiseConvert{DoubleToLongBits,
    # LongBitsToDouble}OperatorConversion / Longs/DoublesExprMacro.)
    ("BITWISE_CONVERT_LONG_BITS_TO_DOUBLE", "a BIGINT", "DOUBLE",
     """CASE
         WHEN ((a >> 52) & 2047) = 2047 THEN
           CASE WHEN (a & 4503599627370495) != 0 THEN CAST('NaN' AS DOUBLE)
                WHEN a < 0 THEN CAST('-Infinity' AS DOUBLE)
                ELSE CAST('Infinity' AS DOUBLE) END
         WHEN ((a >> 52) & 2047) = 0 THEN
           (CASE WHEN a < 0 THEN -1.0 ELSE 1.0 END)
           * CAST(a & 4503599627370495 AS DOUBLE)
           * pow(2.0, -537) * pow(2.0, -537)
         ELSE
           (CASE WHEN a < 0 THEN -1.0 ELSE 1.0 END)
           * (4503599627370496.0 + CAST(a & 4503599627370495 AS DOUBLE))
           * pow(2.0, CAST(((a >> 52) & 2047) AS DOUBLE) - 1075.0)
       END"""),
    ("BITWISE_CONVERT_DOUBLE_TO_LONG_BITS", "x DOUBLE", "BIGINT",
     # e = floor(log2(|x|)) with a two-sided guard against log2
     # misrounding at exact powers of two; normals encode
     # (|x|/2^e - 1) * 2^52, subnormals |x| * 2^1074 (split as
     # 2^537 * 2^537 to keep the scale factor finite)
     """CASE
         WHEN isnan(x) THEN 9221120237041090560
         WHEN x = CAST('Infinity' AS DOUBLE) THEN 9218868437227405312
         WHEN x = CAST('-Infinity' AS DOUBLE) THEN -4503599627370496
         WHEN x = 0.0 THEN
           CASE WHEN startswith(CAST(x AS STRING), '-')
                THEN -9223372036854775808 ELSE 0 END
         ELSE
           (CASE WHEN x < 0 THEN -9223372036854775808 ELSE 0 END)
           + (CASE WHEN abs(x) < pow(2.0, -1022) THEN
                CAST(abs(x) * pow(2.0, 537) * pow(2.0, 537) AS BIGINT)
              ELSE
                (CAST(floor(log2(abs(x))) AS BIGINT)
                 + (CASE WHEN pow(2.0, floor(log2(abs(x)))) > abs(x)
                         THEN -1
                         WHEN pow(2.0, floor(log2(abs(x))) + 1.0)
                              <= abs(x) THEN 1
                         ELSE 0 END) + 1023) * 4503599627370496
                + CAST((abs(x) / pow(2.0,
                    CAST(CAST(floor(log2(abs(x))) AS BIGINT)
                     + (CASE WHEN pow(2.0, floor(log2(abs(x)))) > abs(x)
                             THEN -1
                             WHEN pow(2.0, floor(log2(abs(x))) + 1.0)
                                  <= abs(x) THEN 1
                             ELSE 0 END) AS DOUBLE)) - 1.0)
                   * 4503599627370496.0 AS BIGINT)
              END)
       END"""),
    # DIV is already a Spark builtin with identical semantics
    # -- ipv4 --------------------------------------------------------------
    # IPv4AddressParseExprMacro / IPv4AddressExprUtils: only a
    # well-formed dotted-quad STRING parses (octets 0-255; uint
    # strings, IPv6 forms and hostnames are NULL); an integral argument
    # is the address itself, range-checked [0, 2^32) (the dialect's
    # IPV4_* entry, sql/dialect._ipv4, picks by the argument's type)
    ("IPV4_PARSE", "s STRING", "BIGINT",
     """CASE WHEN s RLIKE concat('^(25[0-5]|2[0-4][0-9]|[01]?[0-9]?',
            '[0-9])([.](25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])){3}$')
        THEN cast(split(s, '[.]')[0] AS BIGINT) * 16777216
        + cast(split(s, '[.]')[1] AS BIGINT) * 65536
        + cast(split(s, '[.]')[2] AS BIGINT) * 256
        + cast(split(s, '[.]')[3] AS BIGINT) END"""),
    # IPv4AddressStringifyExprMacro: longs outside [0, 2^32) are NULL
    ("IPV4_STRINGIFY", "n BIGINT", "STRING",
     """CASE WHEN n BETWEEN 0 AND 4294967295 THEN
        concat_ws('.', cast(floor(n / 16777216) % 256 AS STRING),
                      cast(floor(n / 65536) % 256 AS STRING),
                      cast(floor(n / 256) % 256 AS STRING),
                      cast(n % 256 AS STRING)) END"""),
    # Druid TRUNCATE(x, digits): truncate toward zero at `digits`
    # decimal places (Function.java Truncate)
    ("TRUNCATE", "x DOUBLE, d INT", "DOUBLE",
     """CASE WHEN x >= 0 THEN floor(x * power(10, d)) / power(10, d)
        ELSE -floor(-x * power(10, d)) / power(10, d) END"""),
    # IPv4AddressMatchExprMacro over the parsed address: a non-IPv4
    # address (NULL here) yields FALSE, not NULL; network and broadcast
    # addresses are inside the subnet (inclusive prefix compare)
    ("IPV4_MATCH", "addr BIGINT, subnet STRING", "BOOLEAN",
     """coalesce(
        floor(addr / power(2, 32 - cast(split(subnet, '/')[1] AS INT)))
        = floor(IPV4_PARSE(split(subnet, '/')[0])
              / power(2, 32 - cast(split(subnet, '/')[1] AS INT))),
        false)"""),
    # DECODE_BASE64_UTF8 (expression/builtin — decodes a base64 string
    # payload to utf-8 text)
    ("DECODE_BASE64_UTF8", "s STRING", "STRING",
     "decode(unbase64(s), 'UTF-8')"),
    # TIME_IN_INTERVAL(t, 'start/end') — ISO interval membership
    # (sql/.../expression/builtin/TimeInIntervalOperatorConversion).
    # start/end datetime form only; period-anchored forms ('P1D/...')
    # yield NULL rather than a wrong answer.
    ("TIME_IN_INTERVAL", "t TIMESTAMP, iv STRING", "BOOLEAN",
     """CASE WHEN split(iv, '/')[0] NOT LIKE 'P%'
              AND split(iv, '/')[1] NOT LIKE 'P%'
        THEN t >= cast(split(iv, '/')[0] AS TIMESTAMP)
             AND t < cast(split(iv, '/')[1] AS TIMESTAMP) END"""),
    # THETA_SKETCH_ESTIMATE / _INTERSECT / _UNION / _NOT need no shim:
    # Spark 4.1 ships native DataSketches theta builtins
    # (theta_sketch_estimate / theta_intersection / theta_union /
    # theta_difference) — name maps live in sql/dialect.py.
    # extensions-core/druid-bloom-filter BloomFilterOperatorConversion:
    # BLOOM_FILTER_TEST(expr, serialized) — see functions/bloom.py for
    # the hex serialization + md5 double-hashing contract
    ("BLOOM_FILTER_TEST", "x STRING, bloom STRING", "BOOLEAN",
     bloom_test_sql("x", "bloom", "spark")),
]
