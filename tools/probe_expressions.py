"""Probe: run the ExpressionsTest pin candidates through druid_sql and
report mismatches, so engine gaps can be fixed before the golden
tranche lands (reference sql/.../calcite/expression/ExpressionsTest.java)."""
from __future__ import annotations

import math
import os
import sys
from datetime import datetime, date

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession, types as T

from apache_druid_spark.model.datasource import DatasourceRegistry
from apache_druid_spark.sql.dialect import druid_sql

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.ansi.enabled", "false")
         .config("spark.ui.enabled", "false")
         .getOrCreate())

schema = T.StructType([
    T.StructField("t", T.TimestampType()),
    T.StructField("a", T.LongType()),
    T.StructField("b", T.LongType()),
    T.StructField("p", T.LongType()),
    T.StructField("x", T.FloatType()),
    T.StructField("y", T.LongType()),
    T.StructField("z", T.FloatType()),
    T.StructField("s", T.StringType()),
    T.StructField("nan", T.DoubleType()),
    T.StructField("inf", T.DoubleType()),
    T.StructField("ninf", T.DoubleType()),
    T.StructField("fnan", T.FloatType()),
    T.StructField("finf", T.FloatType()),
    T.StructField("nfinf", T.FloatType()),
    T.StructField("hexstr", T.StringType()),
    T.StructField("intstr", T.StringType()),
    T.StructField("spacey", T.StringType()),
    T.StructField("newliney", T.StringType()),
    T.StructField("tstr", T.StringType()),
    T.StructField("dstr", T.StringType()),
])
row = (datetime(2000, 2, 3, 4, 5, 6), 10, 25, 3, 2.25, 3, -2.25, "foo",
       float("nan"), float("inf"), float("-inf"),
       float("nan"), float("inf"), float("-inf"),
       "EF", "-100", "  hey there  ", "beep\nboop",
       "2000-02-03 04:05:06", "2000-02-03")
reg = DatasourceRegistry(spark)
reg.register("exprtest", spark.createDataFrame([row], schema))

CASES = [
    # (name, select-expr, expected)
    ("concat", "CONCAT(s, 'bar')", "foobar"),
    ("char_len", "CHARACTER_LENGTH(s)", 3),
    ("re_x1", "REGEXP_EXTRACT(s, 'x(.)', 1)", None),
    ("re_o1", "REGEXP_EXTRACT(s, '(o)', 1)", "o"),
    ("re_concat", "REGEXP_EXTRACT(CONCAT('Z', s), 'Zf(.)')", "Zfo"),
    ("re_f1", "REGEXP_EXTRACT(s, 'f(.)', 1)", "o"),
    ("re_f0", "REGEXP_EXTRACT(s, 'f(.)')", "fo"),
    ("re_empty", "REGEXP_EXTRACT(s, '')", ""),
    ("re_null", "REGEXP_EXTRACT(NULL, '(.)')", None),
    ("re_null_empty", "REGEXP_EXTRACT(NULL, '')", None),
    ("rl_f", "REGEXP_LIKE(s, 'f.')", True),
    ("rl_o", "REGEXP_LIKE(s, 'o')", True),
    ("rl_x", "REGEXP_LIKE(s, 'x.')", False),
    ("rl_empty", "REGEXP_LIKE(s, '')", True),
    ("rl_nl_anchor", "REGEXP_LIKE(newliney, '^beep$')", False),
    ("rl_nl_full", "REGEXP_LIKE(newliney, '^beep\\nboop$')", True),
    ("rl_nl_boo", "REGEXP_LIKE(newliney, 'boo')", True),
    ("rl_nl_boo_anchor", "REGEXP_LIKE(newliney, '^boo')", False),
    ("rl_concat", "REGEXP_LIKE(CONCAT('Z', s), 'x(.)')", False),
    ("rl_null", "REGEXP_LIKE(NULL, '(.)')", False),
    ("rl_null_empty", "REGEXP_LIKE(NULL, '')", False),
    ("fmt_hex", "STRING_FORMAT('%x', b)", "19"),
    ("fmt_sd", "STRING_FORMAT('%s %,d', s, 1234)", "foo 1,234"),
    ("fmt_extra", "STRING_FORMAT('%s %,d', s, 1234, 6789)", "foo 1,234"),
    ("strpos_oo", "STRPOS(s, 'oo')", 2),
    ("strpos_ax", "STRPOS(s, 'ax')", 0),
    ("strpos_null", "STRPOS(NULL, 'ax')", None),
    ("parse_long", "PARSE_LONG(intstr)", -100),
    ("parse_long16", "PARSE_LONG(hexstr, 16)", 239),
    ("parse_long0x", "PARSE_LONG(CONCAT('0x', hexstr), 16)", 239),
    ("parse_long_bad", "PARSE_LONG(hexstr)", None),
    ("position", "POSITION('oo' IN s)", 2),
    ("position_from2", "POSITION('oo' IN s FROM 2)", 2),
    ("position_from3", "POSITION('oo' IN s FROM 3)", 0),
    ("power", "POWER(a, 2)", 100.0),
    ("floor_a", "FLOOR(a)", 10),
    ("floor_x", "FLOOR(x)", 2.0),
    ("floor_z", "FLOOR(z)", -3.0),
    ("ceil_a", "CEIL(a)", 10),
    ("ceil_x", "CEIL(x)", 3.0),
    ("ceil_z", "CEIL(z)", -2.0),
    ("trunc_a", "TRUNCATE(a)", 10.0),
    ("trunc_x", "TRUNCATE(x)", 2.0),
    ("trunc_z", "TRUNCATE(z)", -2.0),
    ("trunc_x1", "TRUNCATE(x, 1)", 2.2),
    ("trunc_z1", "TRUNCATE(z, 1)", -2.2),
    ("trunc_bm1", "TRUNCATE(b, -1)", 20.0),
    ("trunc_zm1", "TRUNCATE(z, -1)", 0.0),
    ("round_a", "ROUND(a)", 10),
    ("round_b", "ROUND(b)", 25),
    ("round_bm1", "ROUND(b, -1)", 30),
    ("round_x", "ROUND(x)", 2.0),
    ("round_x1", "ROUND(x, 1)", 2.3),
    ("round_z", "ROUND(z)", -2.0),
    ("round_s", "ROUND(s)", None),
    ("round_nan", "ROUND(nan)", 0.0),
    ("round_fnan", "ROUND(fnan)", 0.0),
    ("round_inf", "ROUND(inf)", 1.7976931348623157e308),
    ("round_ninf", "ROUND(ninf)", -1.7976931348623157e308),
    ("round_finf", "ROUND(finf)", 1.7976931348623157e308),
    ("round_nfinf", "ROUND(nfinf)", -1.7976931348623157e308),
    ("date_trunc_h", "DATE_TRUNC('hour', TIMESTAMP '2000-02-03 04:05:06')",
     datetime(2000, 2, 3, 4, 0, 0)),
    ("date_trunc_d", "DATE_TRUNC('DAY', TIMESTAMP '2000-02-03 04:05:06')",
     datetime(2000, 2, 3)),
    ("trim_both", "TRIM(BOTH ' ' FROM spacey)", "hey there"),
    ("trim_lead", "TRIM(LEADING ' h' FROM spacey)", "ey there  "),
    ("trim_trail", "TRIM(TRAILING ' e' FROM spacey)", "  hey ther"),
    ("lpad", "LPAD(s, 5, 'x')", "xxfoo"),
    ("rpad", "RPAD(s, 5, 'x')", "fooxx"),
    ("contains", "CONTAINS_STRING(spacey, 'there')", True),
    ("contains_cs", "CONTAINS_STRING(spacey, 'There')", False),
    ("icontains", "ICONTAINS_STRING(spacey, 'There')", True),
    ("contains_expr", "CONTAINS_STRING(CONCAT('what is', spacey), 'what')",
     True),
    ("contains_and",
     "CONTAINS_STRING(spacey, 'there') AND 'yes' = 'yes'", True),
    ("time_floor", "TIME_FLOOR(TIMESTAMP '2000-02-03 04:05:06', 'PT1H')",
     datetime(2000, 2, 3, 4, 0, 0)),
    ("time_floor_tz", "TIME_FLOOR(t, 'P1D', NULL, 'America/Los_Angeles')",
     datetime(2000, 2, 2, 8, 0, 0)),
    ("floor_to_year", "FLOOR(t TO YEAR)", datetime(2000, 1, 1)),
    ("time_ceil", "TIME_CEIL(TIMESTAMP '2000-02-03 04:05:06', 'PT1H')",
     datetime(2000, 2, 3, 5, 0, 0)),
    ("time_ceil_tz", "TIME_CEIL(t, 'P1D', NULL, 'America/Los_Angeles')",
     datetime(2000, 2, 3, 8, 0, 0)),
    ("ceil_to_year", "CEIL(t TO YEAR)", datetime(2001, 1, 1)),
    ("time_shift", "TIME_SHIFT(t, 'PT2H', -3)",
     datetime(2000, 2, 2, 22, 5, 6)),
    ("time_shift_tz", "TIME_SHIFT(t, 'PT2H', -3, 'America/Los_Angeles')",
     datetime(2000, 2, 2, 22, 5, 6)),
    ("time_extract_q", "TIME_EXTRACT(t, 'QUARTER')", 1),
    ("time_extract_tz", "TIME_EXTRACT(t, 'DAY', 'America/Los_Angeles')", 2),
    ("t_plus_dt", "t + INTERVAL '1 01:01' DAY TO MINUTE",
     datetime(2000, 2, 4, 5, 6, 6)),
    ("t_plus_ym", "t + INTERVAL '1-1' YEAR TO MONTH",
     datetime(2001, 3, 3, 4, 5, 6)),
    ("t_minus_dt", "t - INTERVAL '1 01:01' DAY TO MINUTE",
     datetime(2000, 2, 2, 3, 4, 6)),
    ("t_minus_ym", "t - INTERVAL '1-1' YEAR TO MONTH",
     datetime(1999, 1, 3, 4, 5, 6)),
    ("time_parse", "TIME_PARSE(tstr, 'yyyy-MM-dd HH:mm:ss')",
     datetime(2000, 2, 3, 4, 5, 6)),
    ("time_parse_tz",
     "TIME_PARSE(tstr, 'yyyy-MM-dd HH:mm:ss', 'America/Los_Angeles')",
     datetime(2000, 2, 3, 12, 5, 6)),
    ("time_format", "TIME_FORMAT(t, 'yyyy-MM-dd HH:mm:ss')",
     "2000-02-03 04:05:06"),
    ("time_format_tz",
     "TIME_FORMAT(t, 'yyyy-MM-dd HH:mm:ss', 'America/Los_Angeles')",
     "2000-02-02 20:05:06"),
    ("extract_q", "EXTRACT(QUARTER FROM t)", 1),
    ("extract_d", "EXTRACT(DAY FROM t)", 3),
    ("cast_ts", "CAST(tstr AS TIMESTAMP)", datetime(2000, 2, 3, 4, 5, 6)),
    ("cast_ts_str", "CAST(t AS VARCHAR)", "2000-02-03 04:05:06"),
    ("cast_date", "CAST(t AS DATE)", date(2000, 2, 3)),
    ("cast_dstr_date", "CAST(dstr AS DATE)", date(2000, 2, 3)),
    ("cast_date_str", "CAST(CAST(t AS DATE) AS VARCHAR)", "2000-02-03"),
    ("reverse", "REVERSE(s)", "oof"),
    ("reverse_sp", "REVERSE(spacey)", "  ereht yeh  "),
    ("reverse_t", "REVERSE(tstr)", "60:50:40 30-20-0002"),
    ("right1", "RIGHT(s, 1)", "o"),
    ("right4", "RIGHT(s, 4)", "foo"),
    ("right_t", "RIGHT(tstr, 5)", "05:06"),
    ("left1", "LEFT(s, 1)", "f"),
    ("left4", "LEFT(s, 4)", "foo"),
    ("left_t", "LEFT(tstr, 10)", "2000-02-03"),
    ("repeat1", "REPEAT(s, 1)", "foo"),
    ("repeat3", "REPEAT(s, 3)", "foofoofoo"),
    ("repeat_neg", "REPEAT(s, -1)", None),
    ("bcomp_a", "BITWISE_COMPLEMENT(a)", -11),
    ("bcomp_x", "BITWISE_COMPLEMENT(x)", -3),
    ("bcomp_s", "BITWISE_COMPLEMENT(s)", None),
    ("blb2d_a", "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(a)", 4.9e-323),
    ("blb2d_x", "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(x)", 1.0e-323),
    ("blb2d_s", "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(s)", None),
    ("band_ab", "BITWISE_AND(a, b)", 8),
    ("band_xy", "BITWISE_AND(x, y)", 2),
    ("band_ss", "BITWISE_AND(s, s)", None),
    ("hrb_1000", "HUMAN_READABLE_BINARY_BYTE_FORMAT(1000)", "1000 B"),
    ("hrb_1024", "HUMAN_READABLE_BINARY_BYTE_FORMAT(1024)", "1.00 KiB"),
    ("hrb_max", "HUMAN_READABLE_BINARY_BYTE_FORMAT(9223372036854775807)",
     "8.00 EiB"),
    ("hrb_bp", "HUMAN_READABLE_BINARY_BYTE_FORMAT(b, p)", "25 B"),
    ("hrb_p0", "HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 0)", "44 KiB"),
    ("hrb_p1", "HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 1)", "43.9 KiB"),
    ("hrb_p2", "HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 2)", "43.95 KiB"),
    ("hrb_p3", "HUMAN_READABLE_BINARY_BYTE_FORMAT(45000, 3)", "43.945 KiB"),
    ("hrd_999", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(999)", "999 B"),
    ("hrd_1024", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(1024)", "1.02 KB"),
    ("hrd_max", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(9223372036854775807)",
     "9.22 EB"),
    ("hrd_bp", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(b, p)", "25 B"),
    ("hrd_p0", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 0)", "46 KB"),
    ("hrd_p1", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 1)", "45.7 KB"),
    ("hrd_p2", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 2)", "45.68 KB"),
    ("hrd_p3", "HUMAN_READABLE_DECIMAL_BYTE_FORMAT(45678, 3)", "45.678 KB"),
    # IPv4AddressParseExpressionTest
    ("ip_parse", "IPV4_PARSE('192.168.0.1')", 3232235521),
    ("ip_parse_uint", "IPV4_PARSE('3232235521')", None),
    ("ip_parse_host", "IPV4_PARSE('druid.apache.org')", None),
    ("ip_parse_v6c", "IPV4_PARSE('::192.168.0.1')", None),
    ("ip_parse_v6m", "IPV4_PARSE('::ffff:192.168.0.1')", None),
    ("ip_parse_null", "IPV4_PARSE(NULL)", None),
    ("ip_parse_float", "IPV4_PARSE(x)", None),
    ("ip_parse_long", "IPV4_PARSE(3232235521)", 3232235521),
    ("ip_parse_low", "IPV4_PARSE(0)", 0),
    ("ip_parse_high", "IPV4_PARSE(4294967295)", 4294967295),
    ("ip_parse_over", "IPV4_PARSE(4294967296)", None),
    ("ip_parse_neg", "IPV4_PARSE(-1)", None),
    # IPv4AddressStringifyExpressionTest
    ("ip_str", "IPV4_STRINGIFY(3232235521)", "192.168.0.1"),
    ("ip_str_low", "IPV4_STRINGIFY(0)", "0.0.0.0"),
    ("ip_str_high", "IPV4_STRINGIFY(4294967295)", "255.255.255.255"),
    ("ip_str_neg", "IPV4_STRINGIFY(-1)", None),
    ("ip_str_over", "IPV4_STRINGIFY(4294967296)", None),
    ("ip_str_str", "IPV4_STRINGIFY('192.168.0.1')", "192.168.0.1"),
    ("ip_str_bad", "IPV4_STRINGIFY('druid.apache.org')", None),
    ("ip_str_null", "IPV4_STRINGIFY(NULL)", None),
    # IPv4AddressMatchExpressionTest
    ("ip_m", "IPV4_MATCH('192.168.0.1', '192.168.0.0/16')", True),
    ("ip_m_no", "IPV4_MATCH('192.168.0.1', '10.0.0.0/8')", False),
    ("ip_m_v6m", "IPV4_MATCH('::ffff:192.168.0.1', '192.168.0.0/16')",
     False),
    ("ip_m_v6c", "IPV4_MATCH('::192.168.0.1', '192.168.0.0/16')", False),
    ("ip_m_host", "IPV4_MATCH('druid.apache.org', '192.168.0.0/16')",
     False),
    ("ip_m_uint", "IPV4_MATCH('3232235521', '192.168.0.0/16')", False),
    ("ip_m_long", "IPV4_MATCH(3232235521, '192.168.0.0/16')", True),
    ("ip_m_long_no", "IPV4_MATCH(3232235521, '10.0.0.0/8')", False),
    ("ip_m_net", "IPV4_MATCH('192.168.0.0', '192.168.0.0/16')", True),
    ("ip_m_bcast", "IPV4_MATCH('192.168.255.255', '192.168.0.0/16')",
     True),
    # Greatest/LeastExpressionTest (numeric / homogeneous-type subset)
    ("gr_null", "GREATEST(NULL, NULL)", None),
    ("gr_dbl", "GREATEST(34.1, x, 5.2, 767.3)", 767.3),
    ("gr_long", "GREATEST(a, 0)", 10),
    ("gr_str", "GREATEST('B', s, 'A')", "foo"),
    ("gr_dec", "GREATEST(1.2, 3.4)", 3.4),
    ("gr_ts", "GREATEST(TIMESTAMP '1970-01-01 00:00:01', "
     "TIMESTAMP '1970-01-01 00:00:02')", datetime(1970, 1, 1, 0, 0, 2)),
    ("le_null", "LEAST(NULL, NULL)", None),
    ("le_dbl", "LEAST(34.1, x, 5.2, 767.3)", 2.25),
    ("le_long", "LEAST(a, 0)", 0),
    ("le_str", "LEAST('B', s, 'A')", "A"),
    ("le_dec", "LEAST(1.2, 3.4)", 1.2),
]

fails = []
for name, expr, want in CASES:
    sql = f"SELECT {expr} AS v FROM exprtest"
    try:
        got = druid_sql(spark, sql, reg).collect()[0][0]
    except Exception as e:  # noqa: BLE001
        fails.append((name, expr, want, f"ERROR {type(e).__name__}: "
                      + str(e).splitlines()[0][:160]))
        continue
    ok = (got == want or (isinstance(got, float) and isinstance(want, (int, float))
          and not (isinstance(got, bool) or isinstance(want, bool))
          and (got == want or (math.isnan(got) and isinstance(want, float)
                               and math.isnan(want)))))
    if isinstance(want, bool) or isinstance(got, bool):
        ok = got == want
    if not ok:
        fails.append((name, expr, want, got))

print(f"\n{len(CASES) - len(fails)}/{len(CASES)} PASS")
for name, expr, want, got in fails:
    print(f"FAIL {name}: {expr}\n  want={want!r}\n  got ={got!r}")
