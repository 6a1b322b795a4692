"""Throughput smoke for the Druid segment-container reader.

Builds a synthetic v9 container with the WRITER-side formats the
reader consumes (GenericIndexed v1, compressed-longs envelope with
REAL greedy-LZ4 chunks — matches engage the back-reference decode
path — dictionary ids as CompressedVSize, sparse-HLLC complex
blobs), then times
read_segment_dir and the Spark scan. The binary fixtures validate
CORRECTNESS (tests/test_segment.py); this measures DECODE RATE so the
"one segment per task" migration cost model in SCALE.md has a number
behind it.

Usage: python tools/segment_bench.py [rows]
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _generic_indexed_v1(elements) -> bytes:
    header, values, acc = [], [], 0
    for e in elements:
        acc += 4 + len(e)
        header.append(struct.pack(">i", acc))
        values.append(struct.pack(">i", len(e)) + e)
    hdr = b"".join(header)
    val = b"".join(values)
    total = 4 + len(hdr) + len(val)
    return (b"\x01\x00" + struct.pack(">ii", total, len(elements))
            + hdr + val)


def _lz4_literal_block(raw: bytes) -> bytes:
    """REAL greedy LZ4 (ingest/segment.py lz4_block_compress) — the
    chunks carry matches, so the bench measures the match-copy decode
    path, not just the literal fast path."""
    from apache_druid_spark.ingest.segment import lz4_block_compress

    return lz4_block_compress(raw)


def _roaring_sorted(vals) -> bytes:
    """Portable roaring (ascending input): array containers up to
    card 4096, bitmap containers (8 KB) beyond — the spec's split."""
    buckets = {}
    for v in vals:
        buckets.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(buckets)
    out = struct.pack("<ii", 12346, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(buckets[k]) - 1)
    out += b"\x00" * (4 * len(keys))
    for k in keys:
        b = buckets[k]
        if len(b) > 4096:
            words = bytearray(8192)
            for x in b:
                words[x >> 3] |= 1 << (x & 7)
            out += bytes(words)
        else:
            out += b"".join(struct.pack("<H", x) for x in b)
    return out


def _longs_column(vals, size_per=8192, lz4=True) -> bytes:
    chunks = []
    for i in range(0, len(vals), size_per):
        raw = b"".join(struct.pack("<q", v)
                       for v in vals[i:i + size_per])
        chunks.append(_lz4_literal_block(raw) if lz4 else raw)
    comp = b"\x01" if lz4 else b"\xff"
    return (b"\x02" + struct.pack(">ii", len(vals), size_per) + comp
            + _generic_indexed_v1(chunks))


def _descriptor(vtype: str, parts: list[dict]) -> bytes:
    d = json.dumps({"valueType": vtype, "hasMultipleValues": False,
                    "parts": parts}).encode()
    return struct.pack(">i", len(d)) + d


def build_container(out_dir: str, rows: int) -> None:
    from apache_druid_spark.ingest.hllc import collector_of

    files = {}
    # __time: ms timestamps, ascending
    t0 = 1_400_000_000_000
    files["__time"] = _descriptor("LONG", [
        {"type": "long", "byteOrder": "LITTLE_ENDIAN"}]) \
        + _longs_column([t0 + i * 1000 for i in range(rows)])
    # metric: longs
    files["value"] = _descriptor("LONG", [
        {"type": "long", "byteOrder": "LITTLE_ENDIAN"}]) \
        + _longs_column([(i * 2654435761) % 100000
                         for i in range(rows)])
    # dim: 1000-value dictionary, CompressedVSize ids (2 bytes)
    card = 1000
    dictionary = _generic_indexed_v1(
        [f"dim-{i:04d}".encode() for i in range(card)])
    ids = [(i * 48271) % card for i in range(rows)]
    size_per = 16384
    chunks = []
    for i in range(0, rows, size_per):
        raw = b"".join(struct.pack("<H", v)
                       for v in ids[i:i + size_per])
        chunks.append(_lz4_literal_block(raw))
    ids_blob = (b"\x02\x02" + struct.pack(">ii", rows, size_per)
                + b"\x01" + _generic_indexed_v1(chunks))
    # scattered dim: no bitmap index (flags = NO_BITMAP_INDEX=0x4,
    # honest — nothing follows the ids)
    files["dim"] = _descriptor("STRING", [
        {"type": "stringDictionary",
         "bitmapSerdeFactory": {"type": "roaring"},
         "byteOrder": "LITTLE_ENDIAN"}]) \
        + b"\x02" + struct.pack(">i", 4) + dictionary + ids_blob
    # clustered dim WITH real roaring bitmaps: 64 contiguous blocks —
    # the shape bitmap pushdown skips chunks on (time-clustered
    # dimension values, the common real-segment layout)
    n_shards = 64
    per = max(rows // n_shards, 1)
    shard_ids = [min(i // per, n_shards - 1) for i in range(rows)]
    shard_dict = _generic_indexed_v1(
        [f"shard-{i:02d}".encode() for i in range(n_shards)])
    sh_chunks = []
    for i in range(0, rows, size_per):
        raw = b"".join(struct.pack("<H", v)
                       for v in shard_ids[i:i + size_per])
        sh_chunks.append(_lz4_literal_block(raw))
    sh_ids_blob = (b"\x02\x02" + struct.pack(">ii", rows, size_per)
                   + b"\x01" + _generic_indexed_v1(sh_chunks))
    sh_bitmaps = _generic_indexed_v1(
        [_roaring_sorted(range(k * per, min((k + 1) * per, rows))
                         if k < n_shards - 1
                         else range(k * per, rows))
         for k in range(n_shards)])
    files["shard"] = _descriptor("STRING", [
        {"type": "stringDictionary",
         "bitmapSerdeFactory": {"type": "roaring"},
         "byteOrder": "LITTLE_ENDIAN"}]) \
        + b"\x02" + struct.pack(">i", 0) + shard_dict \
        + sh_ids_blob + sh_bitmaps
    # complex: one small sparse HLLC blob per 1000-row group, cycled
    blobs = [collector_of([f"u{g}-{j}" for j in range(5)]).to_bytes()
             for g in range(64)]
    files["uniq"] = _descriptor("COMPLEX", [
        {"type": "complex", "typeName": "hyperUnique"}]) \
        + _generic_indexed_v1([blobs[i % 64] for i in range(rows)])
    # index.drd: cols, dims, interval, bitmap json
    gi_cols = _generic_indexed_v1([b"dim", b"shard", b"uniq", b"value"])
    gi_dims = _generic_indexed_v1([b"dim", b"shard"])
    bitmap = json.dumps({"type": "roaring"}).encode()
    files["index.drd"] = (gi_cols + gi_dims
                          + struct.pack(">qq", t0, t0 + rows * 1000)
                          + struct.pack(">i", len(bitmap)) + bitmap)

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "version.bin"), "wb") as f:
        f.write(struct.pack(">i", 9))
    blob = b"".join(files.values())
    with open(os.path.join(out_dir, "00000.smoosh"), "wb") as f:
        f.write(blob)
    with open(os.path.join(out_dir, "meta.smoosh"), "w") as f:
        f.write("v1,2147483647,1\n")
        pos = 0
        for name, b in files.items():
            f.write(f"{name},0,{pos},{pos + len(b)}\n")
            pos += len(b)


def main() -> int:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out = tempfile.mkdtemp(prefix="segbench_")
    seg = os.path.join(out, "seg")
    try:
        t0 = time.time()
        build_container(seg, rows)
        build_s = round(time.time() - t0, 2)
        size_mb = round(os.path.getsize(
            os.path.join(seg, "00000.smoosh")) / 1e6, 1)

        from apache_druid_spark.ingest import segment as seg_mod
        from apache_druid_spark.ingest.segment import read_segment_dir

        t0 = time.time()
        pdf, info = read_segment_dir(seg)
        read_s = round(time.time() - t0, 2)
        assert len(pdf) == rows
        # warm read isolates decode rate from import/page-cache cost
        t0 = time.time()
        read_segment_dir(seg)
        read_warm_s = round(time.time() - t0, 2)
        # forced pure-Python LZ4 (the fallback a host with no liblz4
        # gets) for the native-vs-pure attribution in SCALE.md
        native = seg_mod._lz4_ctypes is not None
        saved = seg_mod._lz4_ctypes
        seg_mod._lz4_ctypes = None
        t0 = time.time()
        read_segment_dir(seg)
        read_pure_s = round(time.time() - t0, 2)
        seg_mod._lz4_ctypes = saved
        # bitmap pushdown: selector on the clustered dim — 1 of 64
        # blocks — must decode only the chunks covering that block
        t0 = time.time()
        fdf, finfo = read_segment_dir(seg, dim_filter={
            "type": "selector", "dimension": "shard",
            "value": "shard-07"})
        filtered_s = round(time.time() - t0, 2)
        assert len(fdf) == finfo["pushdown_rows"] > 0
        assert set(fdf["shard"]) == {"shard-07"}

        from apache_druid_spark import get_spark
        from apache_druid_spark.ingest.segment import scan_segments

        spark = get_spark("segment_bench")
        t0 = time.time()
        n = scan_segments(spark, [seg]).count()
        spark_s = round(time.time() - t0, 2)
        assert n == rows
        # 8 containers in parallel: the per-task model under local[32]
        t0 = time.time()
        n8 = scan_segments(spark, [seg] * 8).count()
        spark8_s = round(time.time() - t0, 2)
        assert n8 == rows * 8

        print(json.dumps({
            "rows": rows, "container_mb": size_mb, "build_sec": build_s,
            "read_sec": read_s, "read_warm_sec": read_warm_s,
            "read_pure_lz4_sec": read_pure_s,
            "filtered_read_sec": filtered_s,
            "pushdown_rows": int(finfo["pushdown_rows"]),
            "lz4_native_resolved": native,
            "rows_per_sec": int(rows / max(read_warm_s, 1e-9)),
            "rows_per_sec_pure": int(rows / max(read_pure_s, 1e-9)),
            "spark_scan_sec": spark_s, "spark_scan_x8_sec": spark8_s,
            "load_1min": round(os.getloadavg()[0], 1),
        }))
        return 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
