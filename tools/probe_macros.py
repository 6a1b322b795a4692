"""Probe: ExprMacroTest.java pins through the native translator
(processing/src/test/java/org/apache/druid/query/expression/)."""
from __future__ import annotations

import os
import sys
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession, types as T

from apache_druid_spark.operators.expressions import compile_expression

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.ansi.enabled", "false")
         .config("spark.ui.enabled", "false")
         .getOrCreate())

schema = T.StructType([
    T.StructField("t", T.TimestampType()),
    T.StructField("t1", T.TimestampType()),
    T.StructField("tstr", T.StringType()),
    T.StructField("tstr_sql", T.StringType()),
    T.StructField("x", T.StringType()),
    T.StructField("y", T.LongType()),
    T.StructField("z", T.DoubleType()),
    T.StructField("CityOfAngels", T.StringType()),
    T.StructField("spacey", T.StringType()),
    T.StructField("ipv4_string", T.StringType()),
    T.StructField("ipv4_long", T.LongType()),
    T.StructField("ipv4_network", T.StringType()),
    T.StructField("ipv4_broadcast", T.StringType()),
])
ROW = (datetime(2000, 2, 3, 4, 5, 6), datetime(2000, 2, 3),
       "2000-02-03T04:05:06", "2000-02-03 04:05:06", "foo", 2, 3.1,
       "America/Los_Angeles", "  hey there  ",
       "192.168.0.1", 3232235521, "192.168.0.0", "192.168.255.255")
df = spark.createDataFrame([ROW], schema)

dt = datetime
CASES = [
    # testLike
    ("like(x, 'f%')", True),
    ("like(x, 'f__')", True),
    ("like(x, '%o%')", True),
    ("like(x, 'b%')", False),
    ("like(x, 'b__')", False),
    ("like(x, '%x%')", False),
    ("like(x, '')", False),
    # testRegexpExtract (default group 0; no-match covered in SQL pins)
    ("regexp_extract(x, 'f(.)')", "fo"),
    ("regexp_extract(x, 'f(.)', 0)", "fo"),
    ("regexp_extract(x, 'f(.)', 1)", "o"),
    # testTimestampCeil
    ("timestamp_ceil(null, 'P1M')", None),
    ("timestamp_ceil(t, 'P1M')", dt(2000, 3, 1)),
    ("timestamp_ceil(t, 'P1D',null,'America/Los_Angeles')",
     dt(2000, 2, 3, 8)),
    ("timestamp_ceil(t, 'P1D','1970-01-01T01','Etc/UTC')",
     dt(2000, 2, 4, 1)),
    ("timestamp_ceil(t1, 'P1D')", dt(2000, 2, 3)),
    # testTimestampFloor
    ("timestamp_floor(null, 'P1M')", None),
    ("timestamp_floor(t, 'P1M')", dt(2000, 2, 1)),
    ("timestamp_floor(t, 'P1D',null,'America/Los_Angeles')",
     dt(2000, 2, 2, 8)),
    ("timestamp_floor(t, 'P1D','1970-01-01T01','Etc/UTC')",
     dt(2000, 2, 3, 1)),
    # testTimestampShift
    ("timestamp_shift(t, 'P1D', 2)", dt(2000, 2, 5, 4, 5, 6)),
    ("timestamp_shift(t, 'P1D', 2, 'America/Los_Angeles')",
     dt(2000, 2, 5, 4, 5, 6)),
    ("timestamp_shift(t, 'P1D', 2, '-08:00')", dt(2000, 2, 5, 4, 5, 6)),
    # testTimestampExtract
    ("timestamp_extract(t, 'DAY')", 3),
    ("timestamp_extract(t, 'HOUR')", 4),
    ("timestamp_extract(t, 'DAY', 'America/Los_Angeles')", 2),
    ("timestamp_extract(t, 'HOUR', 'America/Los_Angeles')", 20),
    # testTimestampParse
    ("timestamp_parse(tstr)", dt(2000, 2, 3, 4, 5, 6)),
    ("timestamp_parse(tstr_sql)", dt(2000, 2, 3, 4, 5, 6)),
    ("timestamp_parse(tstr_sql,null,'America/Los_Angeles')",
     dt(2000, 2, 3, 12, 5, 6)),
    ("timestamp_parse('2000-02-03')", dt(2000, 2, 3)),
    ("timestamp_parse('2000-02')", dt(2000, 2, 1)),
    ("timestamp_parse(null)", None),
    ("timestamp_parse('z2000')", None),
    ("timestamp_parse(tstr_sql,'yyyy-MM-dd HH:mm:ss')",
     dt(2000, 2, 3, 4, 5, 6)),
    ("timestamp_parse('02/03/2000','MM/dd/yyyy')", dt(2000, 2, 3)),
    ("timestamp_parse(tstr_sql,'yyyy-MM-dd HH:mm:ss',"
     "'America/Los_Angeles')", dt(2000, 2, 3, 12, 5, 6)),
    # testTimestampFormat
    ("timestamp_format(t)", "2000-02-03T04:05:06.000Z"),
    ("timestamp_format(t,'yyyy-MM-dd HH:mm:ss')", "2000-02-03 04:05:06"),
    ("timestamp_format(t,'yyyy-MM-dd HH:mm:ss','America/Los_Angeles')",
     "2000-02-02 20:05:06"),
    # testTrim / LTrim / RTrim (character-set trim; '' trim chars = no
    # trim)
    ("trim('')", ""),
    ("trim(concat(' ',x,' '))", "foo"),
    ("trim(spacey)", "hey there"),
    ("trim(spacey, '')", "  hey there  "),
    ("trim(spacey, 'he ')", "y ther"),
    ("trim(spacey, spacey)", ""),
    ("trim(spacey, substring(spacey, 0, 4))", "y ther"),
    ("ltrim('')", ""),
    ("ltrim(concat(' ',x,' '))", "foo "),
    ("ltrim(spacey)", "hey there  "),
    ("ltrim(spacey, '')", "  hey there  "),
    ("ltrim(spacey, 'he ')", "y there  "),
    ("ltrim(spacey, spacey)", ""),
    ("ltrim(spacey, substring(spacey, 0, 4))", "y there  "),
    ("rtrim('')", ""),
    ("rtrim(concat(' ',x,' '))", " foo"),
    ("rtrim(spacey)", "  hey there"),
    ("rtrim(spacey, '')", "  hey there  "),
    ("rtrim(spacey, 'he ')", "  hey ther"),
    ("rtrim(spacey, spacey)", ""),
    ("rtrim(spacey, substring(spacey, 0, 4))", "  hey ther"),
    # testIPv4AddressParse / Stringify / Match
    ("ipv4_parse(x)", None),
    ("ipv4_parse(ipv4_string)", 3232235521),
    ("ipv4_parse(ipv4_long)", 3232235521),
    ("ipv4_parse(ipv4_stringify(ipv4_long))", 3232235521),
    ("ipv4_stringify(x)", None),
    ("ipv4_stringify(ipv4_long)", "192.168.0.1"),
    ("ipv4_stringify(ipv4_string)", "192.168.0.1"),
    ("ipv4_stringify(ipv4_parse(ipv4_string))", "192.168.0.1"),
    ("ipv4_match(ipv4_string,    '10.0.0.0/8')", False),
    ("ipv4_match(ipv4_string,    '192.168.0.0/16')", True),
    ("ipv4_match(ipv4_network,   '192.168.0.0/16')", True),
    ("ipv4_match(ipv4_broadcast, '192.168.0.0/16')", True),
]

fails = []
for expr, want in CASES:
    try:
        got = df.select(compile_expression(expr).alias("v")).collect()[0][0]
    except Exception as e:  # noqa: BLE001
        fails.append((expr, want, f"ERR {type(e).__name__}: "
                      + str(e).splitlines()[0][:130]))
        continue
    if got != want:
        fails.append((expr, want, got))

print(f"\n{len(CASES) - len(fails)}/{len(CASES)} PASS")
for expr, want, got in fails:
    print(f"FAIL {expr}\n  want={want!r}\n  got ={got!r}")
