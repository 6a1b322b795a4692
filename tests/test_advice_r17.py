"""Regression tests for the round-16 advisor findings (ADVICE.md r16,
all low).

1. read_generic_indexed validated only min/max of the end-offset
   header; a damaged header with DECREASING offsets passed the bounds
   check and yielded silently empty/truncated elements. Fixed: raise
   DruidSegmentError on non-monotonic ends, as loud as an overrun.
2. segment_metadata reported minValue/maxValue from the first/last
   dictionary entries while skipping the allowReverseLookup byte
   unchecked; an unsorted dictionary (allowReverseLookup=0,
   GenericIndexed.java fromIterable unsorted strategy) would report
   wrong bounds. Fixed: min/max emitted only when the flag is 1.
3. Duplicate-container dedup used os.path.abspath, so the same
   segment reachable via a symlink and its target ingested twice
   (doubled rows). Fixed: os.path.realpath.
4. The legacy-path persist cache was never cleared on session stop.
   The cache and its stop hook are gone: every intra-query persist is
   released by the query's scope (tests/test_query_scope.py).
"""

from __future__ import annotations

import json
import struct

import pytest

from apache_druid_spark.ingest.segment import DruidSegmentError

GOLDEN_ZIP = ("/root/reference/indexing-hadoop/src/test/resources/"
              "test-segment/index.zip")


from segment_format import (
    generic_indexed_v1 as _generic_indexed_v1,
)


# -- 1: non-monotonic GenericIndexed header ---------------------------------


def test_generic_indexed_nonmonotonic_is_loud():
    from apache_druid_spark.ingest.segment import (
        _Buf, read_generic_indexed,
    )

    good = _generic_indexed_v1([b"abc", b"defg"])
    # swap the two end-offsets: bounds (min>=0, max within the value
    # area) still hold, but the sequence decreases — the exact shape
    # the old min/max check waved through
    bad = bytearray(good)
    e0 = struct.unpack_from(">i", bad, 10)[0]
    e1 = struct.unpack_from(">i", bad, 14)[0]
    struct.pack_into(">i", bad, 10, e1)
    struct.pack_into(">i", bad, 14, e0)
    with pytest.raises(DruidSegmentError, match="monotonic"):
        read_generic_indexed(_Buf(bytes(bad)))


def test_generic_indexed_sorted_header_still_reads():
    from apache_druid_spark.ingest.segment import (
        _Buf, read_generic_indexed,
    )

    out = read_generic_indexed(
        _Buf(_generic_indexed_v1([b"abc", b"defg"])))
    assert out == [b"abc", b"defg"]


# -- 2: unsorted dictionary must not report min/max --------------------------


def _flip_host_reverse_lookup(tmp_path):
    """Extract the golden container and clear the host dictionary's
    allowReverseLookup byte, walking the same descriptor framing the
    reader uses (4-byte desc len, desc JSON, column version byte,
    v2 flags int, GI version, allowReverseLookup)."""
    import zipfile

    d = tmp_path / "seg"
    d.mkdir()
    with zipfile.ZipFile(GOLDEN_ZIP) as z:
        z.extractall(d)
    lines = (d / "meta.smoosh").read_text().splitlines()
    chunk = start = None
    for line in lines[1:]:
        parts = line.split(",")
        if parts[0] == "host":
            chunk, start = int(parts[1]), int(parts[2])
    assert start is not None
    f = d / f"{chunk:05d}.smoosh"
    data = bytearray(f.read_bytes())
    desc_len = struct.unpack_from(">i", data, start)[0]
    desc = json.loads(bytes(
        data[start + 4:start + 4 + desc_len]).decode("utf-8"))
    assert desc["parts"][0]["type"] == "stringDictionary"
    pos = start + 4 + desc_len
    v = data[pos]
    pos += 1
    if v >= 0x2:
        pos += 4  # flags int
    pos += 1  # GI version byte
    assert data[pos] == 0x1  # golden dictionary IS sorted
    data[pos] = 0x0
    f.write_bytes(bytes(data))
    return str(d)


def test_segment_metadata_unsorted_dictionary_omits_minmax(tmp_path):
    from apache_druid_spark.ingest.segment import segment_metadata

    path = _flip_host_reverse_lookup(tmp_path)
    m = segment_metadata(path)
    host = m["columns"]["host"]
    # cardinality still measurable; first/last are NOT min/max
    assert host["cardinality"] == 3
    assert "minValue" not in host
    assert "maxValue" not in host


def test_segment_metadata_sorted_dictionary_keeps_minmax():
    from apache_druid_spark.ingest.segment import segment_metadata

    host = segment_metadata(GOLDEN_ZIP)["columns"]["host"]
    assert host["minValue"] == "a.example.com"
    assert host["maxValue"] == "c.example.com"


# -- 3: symlink-aliased container paths dedupe ------------------------------


def test_druid_input_source_dedups_symlinked_paths(spark, tmp_path):
    import shutil

    from apache_druid_spark.ingest.batch import read_input

    base = tmp_path / "store"
    base.mkdir()
    shutil.copy(GOLDEN_ZIP, base / "seg.zip")
    link = tmp_path / "seg-link.zip"
    link.symlink_to(base / "seg.zip")
    df = read_input(spark, {"inputSource": {
        "type": "druid",
        "segments": [str(link)],
        "baseDir": str(base)}})
    assert df.count() == 3  # NOT 6 — symlink and target are one file
