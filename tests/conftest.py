import pytest

from apache_druid_spark import get_spark, DatasourceRegistry
from apache_druid_spark.model.datasource import register_testdata

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry(spark):
    reg = DatasourceRegistry(spark)
    register_testdata(reg, SF_DIR)
    reg.register_lookup("lookyloo", {"a": "xa", "abc": "xabc",
                                     "nosuchkey": "mysteryvalue", "6": "x6"})
    return reg


@pytest.fixture(scope="session")
def foo(spark, registry):
    """The reference's 6-row golden fixture table (FIXTURES.md §1;
    reference: sql/src/test/java/org/apache/druid/sql/calcite/util/
    CalciteTests.java:417-464)."""
    from datetime import datetime
    rows = [
        (datetime(2000, 1, 1), "", ["a"], ["a", "b"], 1, 1.0, 1.0),
        (datetime(2000, 1, 2), "10.1", [], ["b", "c"], 1, 2.0, 2.0),
        (datetime(2000, 1, 3), "2", [""], ["d"], 1, 3.0, 3.0),
        (datetime(2001, 1, 1), "1", ["a"], [""], 1, 4.0, 4.0),
        (datetime(2001, 1, 2), "def", ["abc"], [], 1, 5.0, 5.0),
        (datetime(2001, 1, 3), "abc", None, None, 1, 6.0, 6.0),
    ]
    df = spark.createDataFrame(
        rows,
        "ts timestamp, dim1 string, dim2 array<string>, dim3 array<string>,"
        " cnt long, m1 float, m2 double")
    registry.register("foo", df, time_column="ts")
    return registry.table("foo")
