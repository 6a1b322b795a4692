"""Golden tests ported from the reference's native-engine suite
ScanQueryRunnerTest.java (processing/src/test/java/org/apache/druid/
query/scan/, 16 methods) over the TestIndex fixture. The reference
computes expected events from the raw TSV (toFullEvents), so these
pins assert the same derived facts: row counts, column projection,
filter + limit, and time-ordering direction.

16/16 methods ported. The list/compactedList/legacy resultFormat
family pins sql/results.py scan_result_values (ScanResultValue
envelopes: batching, compactedList arrays, legacy timestamp column,
__time-as-millis, limit-0-is-unlimited). The timeout trio
(testScanQueryTimeout, testScanQueryTimeoutMerge,
testScanQueryTimeoutZeroDoesntTimeOut) closed in r12 once
plans/timeout.py gained timeout enforcement (now the query scope's
job-tag cancellation)."""

from __future__ import annotations

from datetime import datetime

from apache_druid_spark.plans.compiler import compile_query

from testindex_fixture import testindex  # noqa: F401 (fixture)

dt = datetime
FULL_ON = ["1970-01-01/2020-01-01"]


def scan(columns=None, filt=None, limit=None, order=None,
         intervals=FULL_ON):
    q = {"queryType": "scan", "dataSource": "testindex",
         "intervals": intervals}
    if columns:
        q["columns"] = columns
    if filt:
        q["filter"] = filt
    if limit is not None:
        q["limit"] = limit
    if order:
        q["order"] = order
    return q


def test_full_on_select(spark, testindex):
    # testFullOnSelect: every row comes back with every column
    df = compile_query(scan(), testindex)
    assert df.count() == 1209
    for c in ("__time", "market", "quality", "placementish", "index",
              "partial_null_column"):
        assert c in df.columns, c


def test_select_with_dims_and_mets(spark, testindex):
    # testSelectWithDimsAndMets: projection keeps only the requested
    # columns (column pruning reaches the scan)
    df = compile_query(
        scan(columns=["__time", "market", "index"]), testindex)
    assert df.columns == ["__time", "market", "index"]
    assert df.count() == 1209


def test_full_on_select_with_filter_and_limit(spark, testindex):
    # testFullOnSelectWithFilterAndLimit: spot rows only, first 3 by
    # ascending time (the fixture's first day is 2011-01-12)
    df = compile_query(
        scan(columns=["__time", "market", "quality"],
             filt={"type": "selector", "dimension": "market",
                   "value": "spot"},
             limit=3, order="ascending"), testindex)
    rows = df.collect()
    assert len(rows) == 3
    assert all(r["market"] == "spot" for r in rows)
    assert all(r["__time"] == dt(2011, 1, 12) for r in rows)


def test_select_time_ordering_descending(spark, testindex):
    # testFullOnSelectWithFilterLimitAndDescendingTimeOrdering*: the
    # last day of data leads
    df = compile_query(
        scan(columns=["__time", "market"],
             filt={"type": "selector", "dimension": "market",
                   "value": "spot"},
             limit=3, order="descending"), testindex)
    rows = df.collect()
    assert len(rows) == 3
    assert all(r["__time"] == dt(2011, 4, 15) for r in rows)


def test_full_select_no_results(spark, testindex):
    # testFullSelectNoResults: a contradictory filter returns nothing
    df = compile_query(
        scan(filt={"type": "and", "fields": [
            {"type": "selector", "dimension": "market",
             "value": "spot"},
            {"type": "selector", "dimension": "market",
             "value": "foo"}]}), testindex)
    assert df.count() == 0


def test_select_with_filter_lookup_extraction_fn(spark, testindex):
    # testSelectWithFilterLookupExtractionFn: selector 'replaced'
    # through lookup(total_market -> replaced); quality/index columns
    df = compile_query(scan(
        columns=["quality", "index"],
        intervals=["2011-01-12/2011-01-14"],
        filt={"type": "selector", "dimension": "market",
              "value": "replaced",
              "extractionFn": {"type": "lookup",
                               "retainMissingValue": False,
                               "lookup": {"type": "map", "map": {
                                   "total_market": "replaced"}}}}),
        testindex)
    got = sorted((r["quality"], round(float(r["index"]), 6))
                 for r in df.collect())
    assert got == [("mezzanine", 1000.0), ("mezzanine", 1040.945505),
                   ("premium", 1000.0), ("premium", 1689.012875)]


def test_full_select_no_dimension_and_metric(spark, testindex):
    # testFullSelectNoDimensionAndMetric: nonexistent projection
    # columns come back as all-null STRING columns, one per row
    df = compile_query(scan(columns=["foo", "foo2"],
                            intervals=["2011-01-12/2011-01-14"]),
                       testindex)
    assert df.columns == ["foo", "foo2"]
    rows = df.collect()
    assert len(rows) == 26
    assert all(r["foo"] is None and r["foo2"] is None for r in rows)


# -- ScanResultValue envelope family (ScanQueryRunnerTest result-format
# methods). The reference pins exact intra-day event order (its segment
# scan is file-ordered); rows here share a day-granularity __time, so
# these pins assert the order CONTRACT (time-sorted, correct day per
# position) and exact per-day value sets, tolerance-free everywhere the
# order is well-defined.

from apache_druid_spark.sql.results import scan_result_values  # noqa: E402

I2 = ["2011-01-12/2011-01-14"]
D12, D13 = 1294790400000, 1294876800000  # epoch millis of the two days

SPOT_D12 = {("automotive", 100.0), ("business", 100.0),
            ("entertainment", 100.0), ("health", 100.0),
            ("mezzanine", 100.0), ("news", 100.0), ("premium", 100.0),
            ("technology", 100.0), ("travel", 100.0)}
SPOT_D13 = {("automotive", 94.874713), ("business", 103.629399),
            ("entertainment", 110.087299), ("health", 114.947403),
            ("mezzanine", 104.465767), ("news", 102.851683),
            ("premium", 108.863011), ("technology", 111.356672),
            ("travel", 106.236928)}


def _spot_scan(order, limit, fmt="list"):
    return {"queryType": "scan", "dataSource": "testindex",
            "intervals": I2, "resultFormat": fmt,
            "filter": {"type": "selector", "dimension": "market",
                       "value": "spot"},
            "columns": ["__time", "quality", "index"],
            "order": order, "limit": limit}


def _events(values):
    return [e for v in values for e in v["events"]]


def test_full_on_select_as_compacted_list(spark, testindex):
    # testFullOnSelectAsCompactedList: compactedList rows are exactly
    # the list-format rows flattened in columns order
    base = {"queryType": "scan", "dataSource": "testindex",
            "intervals": I2}
    lst = scan_result_values(base, testindex)
    cmp_ = scan_result_values(
        {**base, "resultFormat": "compactedList"}, testindex)
    cols = lst[0]["columns"]
    assert cmp_[0]["columns"] == cols
    assert [[e[c] for c in cols] for e in _events(lst)] == _events(cmp_)
    assert len(_events(lst)) == 26


def test_select_with_dims_and_mets_as_compacted_list(spark, testindex):
    # testSelectWithDimsAndMetsAsCompactedList
    base = {"queryType": "scan", "dataSource": "testindex",
            "intervals": I2, "columns": ["market", "index"]}
    lst = scan_result_values(base, testindex)
    cmp_ = scan_result_values(
        {**base, "resultFormat": "compactedList"}, testindex)
    assert lst[0]["columns"] == ["market", "index"]
    assert [[e["market"], e["index"]] for e in _events(lst)] \
        == _events(cmp_)


def test_select_with_underscore_underscore_time(spark, testindex):
    # testSelectWithUnderscoreUnderscoreTime: __time is requestable as
    # a plain column and serializes as epoch MILLIS
    vals = scan_result_values(
        {"queryType": "scan", "dataSource": "testindex",
         "intervals": I2, "columns": ["__time", "market", "index"]},
        testindex)
    assert vals[0]["columns"] == ["__time", "market", "index"]
    evs = _events(vals)
    assert len(evs) == 26
    assert {e["__time"] for e in evs} == {D12, D13}


def test_scan_legacy_mode_shapes(spark, testindex):
    # the legacy branch (ScanQueryEngine.java legacy): a leading
    # "timestamp" ISO column; __time kept only when requested
    vals = scan_result_values(
        {"queryType": "scan", "dataSource": "testindex",
         "intervals": I2, "legacy": True,
         "columns": ["__time", "market", "index"]}, testindex)
    assert vals[0]["columns"] == ["timestamp", "__time", "market",
                                  "index"]
    ev = _events(vals)[0]
    assert ev["timestamp"] in ("2011-01-12T00:00:00.000Z",
                               "2011-01-13T00:00:00.000Z")
    assert ev["__time"] in (D12, D13)
    # without an explicit __time request the legacy shape drops it
    vals2 = scan_result_values(
        {"queryType": "scan", "dataSource": "testindex",
         "intervals": I2, "legacy": True,
         "columns": ["market", "index"]}, testindex)
    assert vals2[0]["columns"] == ["timestamp", "market", "index"]
    assert "__time" not in _events(vals2)[0]


def test_scan_batch_size_chunks_envelopes(spark, testindex):
    # ScanResultValue batching: 26 rows / batchSize 10 -> 10+10+6
    vals = scan_result_values(
        {"queryType": "scan", "dataSource": "testindex",
         "intervals": I2, "columns": ["market"], "batchSize": 10},
        testindex)
    assert [len(v["events"]) for v in vals] == [10, 10, 6]
    # default batch (4096*5, ScanQuery.java:208) -> one envelope
    one = scan_result_values(
        {"queryType": "scan", "dataSource": "testindex",
         "intervals": I2, "columns": ["market"]}, testindex)
    assert [len(v["events"]) for v in one] == [26]


def _check_ordered(evs, limit, descending, fmt_cols=None):
    exp_n = limit if limit else 18
    assert len(evs) == exp_n
    times = [e["__time"] if isinstance(e, dict) else e[0] for e in evs]
    assert times == sorted(times, reverse=descending)
    day_sets = {D12: SPOT_D12, D13: SPOT_D13}
    for e in evs:
        t, qual, idx = ((e["__time"], e["quality"], e["index"])
                        if isinstance(e, dict) else tuple(e))
        assert (qual, round(float(idx), 6)) in day_sets[t]


def test_scan_ascending_list_format_limits(spark, testindex):
    # testFullOnSelectWithFilterLimitAndAscendingTimeOrderingListFormat
    # (limit 0 = UNLIMITED, ScanQuery.java:218)
    for limit in (3, 1, 5, 7, 0):
        evs = _events(scan_result_values(
            _spot_scan("ascending", limit), testindex))
        _check_ordered(evs, limit, descending=False)
        # ascending: day-1 rows lead
        head = evs[:min(limit or 18, 9)]
        assert all(e["__time"] == D12 for e in head)


def test_scan_descending_list_format_limits(spark, testindex):
    # testFullOnSelectWithFilterLimitAndDescendingTimeOrderingListFormat
    for limit in (3, 1, 5, 7, 0):
        evs = _events(scan_result_values(
            _spot_scan("descending", limit), testindex))
        _check_ordered(evs, limit, descending=True)
        head = evs[:min(limit or 18, 9)]
        assert all(e["__time"] == D13 for e in head)


def test_scan_ascending_compacted_list_format_limits(spark, testindex):
    # testFullOnSelectWithFilterLimitAndAscendingTimeOrderingCompactedListFormat:
    # same contract, rows
    # as arrays in columns order
    for limit in (3, 1, 5, 7, 0):
        vals = scan_result_values(
            _spot_scan("ascending", limit, fmt="compactedList"),
            testindex)
        assert vals[0]["columns"] == ["__time", "quality", "index"]
        _check_ordered(_events(vals), limit, descending=False)


def test_scan_descending_compacted_list_format_limits(spark, testindex):
    # testFullOnSelectWithFilterLimitAndDescendingTimeOrderingCompactedListFormat
    for limit in (3, 1, 5, 7, 0):
        vals = scan_result_values(
            _spot_scan("descending", limit, fmt="compactedList"),
            testindex)
        _check_ordered(_events(vals), limit, descending=True)


# -- the timeout trio (testScanQueryTimeout / testScanQueryTimeoutMerge
# / testScanQueryTimeoutZeroDoesntTimeOut): context timeout=1ms raises
# the reference's QueryTimeoutException ("Query timeout"); timeout=0
# means unlimited. Spark analogue: the query's scope cancels the jobs
# carrying its job tag from the deadline on (plans/timeout.py), which
# at cluster scale stops a runaway query's tasks instead of letting
# them run to completion.

def test_scan_query_timeout(spark, testindex):
    import pytest as _pytest

    from apache_druid_spark.plans.timeout import QueryTimeoutError
    from apache_druid_spark.sql.results import scan_result_values

    q = {"queryType": "scan", "dataSource": "testindex",
         "intervals": ["2011-01-12/2011-01-14"],
         "context": {"timeout": 1}}
    with _pytest.raises(QueryTimeoutError) as ei:
        scan_result_values(q, testindex)
    assert ei.value.error_code == "Query timeout"
    # merge variant: same contract through the serialized envelope path
    q["resultFormat"] = "compactedList"
    with _pytest.raises(QueryTimeoutError):
        scan_result_values(q, testindex)


def test_scan_query_timeout_zero_doesnt_time_out(spark, testindex):
    from apache_druid_spark.sql.results import scan_result_values

    q = {"queryType": "scan", "dataSource": "testindex",
         "intervals": ["2011-01-12/2011-01-14"],
         "context": {"timeout": 0}}
    vals = scan_result_values(q, testindex)
    assert sum(len(v["events"]) for v in vals) == 26
