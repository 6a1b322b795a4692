"""Read Apache Druid v9 SEGMENT CONTAINERS directly — no Druid runtime.

Closes the last documented migration gap (VERDICT r15 "What's missing"
#2): a deployed Druid cluster's deep storage holds *.smoosh container
files (written by IndexMergerV9), and until now this engine could only
ingest an EXPORT of that data. This module opens the container itself:

  meta.smoosh / NNNNN.smoosh   (SmooshedFileMapper,
      processing/.../java/util/common/io/smoosh/SmooshedFileMapper.java)
  index.drd                    (IndexIO.java:540 V9IndexLoader — column
      and dimension GenericIndexeds, interval millis, bitmap factory)
  metadata.drd                 (Metadata JSON: aggregators, rollup,
      query granularity — surfaced verbatim)
  per-column descriptors       (ColumnDescriptor: 4-byte-len JSON with
      a "parts" list, each part a ColumnPartSerde —
      serde/ColumnPartSerde.java:33 name registry)

Implemented parts (reference file:line in each reader):
  stringDictionary  dictionary GenericIndexed + single-value ids
      (VSize or CompressedVSize) + multi-value ids (VSize multi or the
      V3 compressed offsets/values split); bitmap indexes are parsed
      past, not decoded — Spark's own filters replace them
  long/float/double (+ *V2 with roaring null bitmaps)  block-compressed
      chunks (LZF 0x0 / LZ4 0x1 / uncompressed 0xFF), LONGS and the
      bit-packed DELTA/TABLE long encodings (VSizeLongSerde big-endian
      bitstream — numpy unpackbits)
  complex           GenericIndexed of opaque byte[] per the type's
      ObjectStrategy; hyperUnique blobs feed ingest/hllc.py directly,
      other complex types surface as binary + their typeName
  null              all-null column (serde/NullColumnPartSerde.java)

LZ4 chunks decode through the SYSTEM liblz4 via ctypes when present
(it is ambient on any Spark image — Spark's own codecs ship lz4 — so
native rate costs no install), falling back to a tested pure-Python
block decoder; ZSTD (newer-Druid strategy 0x2) likewise through
libzstd; LZF is pure Python. The distributed read path gives each
SEGMENT to one task (exactly Druid's own parallelism unit), so
throughput scales with the cluster, and a migration re-writes to
parquet once.

Null bitmaps decode under BOTH factory serdes: roaring (the 0.18+
default) and CONCISE (ConciseBitmapSerdeFactory — older deployments
that wrote V2 numeric columns under the concise serde migrate
directly). GenericIndexed version 2 (multi-smoosh, single columns
>2 GB) reads through the same surfaces as v1 — dictionaries, complex
columns, chunk indexes, bitmap regions (r17). LEGACY v8 containers
(IndexIO.java DefaultIndexIOHandler.mapDir — pre-2015 index.drd /
dim_*.drd / met_*.drd / time_*.drd members) read end-to-end too
(r17), so every container version a Druid deployment can hold
migrates. The one remaining deliberate loud: ZSTD chunks on a host
with no libzstd.

Spark surface: ``read_segment_dir`` (one container → pandas),
``scan_segments`` (many containers → one Spark DataFrame via
mapInPandas over the segment PATH list — Arrow-batched, one segment
per row-group of work, no driver-side row materialization).
"""

from __future__ import annotations

import json
import os
import struct
import zipfile

from apache_druid_spark.model.granularity import parse_interval

__all__ = [
    "DruidSegmentError", "SmooshedFiles", "read_segment_dir",
    "read_segment_zip", "segment_schema", "segment_metadata",
    "scan_segments",
]


class DruidSegmentError(ValueError):
    """A structurally invalid or unsupported segment container."""


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


class _Buf:
    """Big-endian cursor over bytes (the container's native order —
    java.nio ByteBuffer default; LITTLE_ENDIAN applies only WITHIN
    decompressed numeric chunks, per each column's descriptor)."""

    __slots__ = ("b", "pos")

    def __init__(self, b, pos: int = 0):
        self.b = b
        self.pos = pos

    def u8(self) -> int:
        v = self.b[self.pos]
        self.pos += 1
        return v

    def i32(self) -> int:
        v = struct.unpack_from(">i", self.b, self.pos)[0]
        self.pos += 4
        return v

    def i64(self) -> int:
        v = struct.unpack_from(">q", self.b, self.pos)[0]
        self.pos += 8
        return v

    def take(self, n: int) -> bytes:
        v = bytes(self.b[self.pos:self.pos + n])
        self.pos += n
        return v

    def remaining(self) -> int:
        return len(self.b) - self.pos


def _read_prefixed_string(buf: _Buf) -> str:
    """SerializerUtils.readString: 4-byte big-endian length + UTF-8."""
    return buf.take(buf.i32()).decode("utf-8")


def read_generic_indexed(buf: _Buf,
                         mapper=None) -> list[bytes | None]:
    """GenericIndexed version 1 (GenericIndexed.java:605 layout):
    byte version, byte allowReverseLookup, int totalSize (= 4 +
    header + values), int numElements, numElements BE ints of END
    offsets into the value area, then the value area where element i
    is a 4-byte size int (-1 marks null) followed by its bytes.

    Version 2 (multi-smoosh, single columns >2 GB —
    GenericIndexed.createGenericIndexedVersionTwo) carries only META
    inline: [allowReverseLookup][int bagSizePower][int numElements]
    [prefixed column name]; the element bytes live in sibling smoosh
    members ``<name>_value_<i>`` (1<<bagSizePower elements each) with
    a ``<name>_header`` member of NATIVE-order int32 end offsets that
    RESTART per value file. Needs ``mapper`` (the SmooshedFiles) to
    resolve those members."""
    version = buf.u8()
    if version == 0x2:
        if mapper is None:
            raise DruidSegmentError(
                "GenericIndexed version 2 (multi-smoosh, >2 GB "
                "single column) appeared in a context with no smoosh "
                "mapper — damaged container, or an unsupported "
                "nesting")
        return _read_generic_indexed_v2(buf, mapper)
    if version != 0x1:
        raise DruidSegmentError(
            f"unknown GenericIndexed version {version}")
    buf.u8()  # allowReverseLookup — irrelevant for a full scan
    total_size = buf.i32()
    n = buf.i32()
    header_end = buf.pos + 4 * n
    value_base = header_end
    out: list[bytes | None] = []
    if n:
        # vectorized walk (a 1M-element complex column was 1.8 s of
        # per-element struct.unpack before): offsets via one
        # frombuffer, value area copied once, elements sliced from the
        # flat bytes. Null iff the 4-byte size marker is -1 (an empty
        # element's marker is 0).
        import numpy as np

        ends = np.frombuffer(buf.b, dtype=">i4", count=n,
                             offset=buf.pos).astype(np.int64)
        # loud on overrun: Python slice semantics would silently
        # truncate every element of a damaged header (r16 review),
        # where the old per-element unpack raised at the first one
        end_max = int(ends.max())
        if end_max > len(buf.b) - value_base or int(ends.min()) < 0:
            raise DruidSegmentError(
                f"corrupt GenericIndexed: element offsets reach "
                f"{end_max} but only {len(buf.b) - value_base} value "
                "bytes exist — truncated or damaged container")
        if n > 1 and bool(np.any(np.diff(ends) < 0)):
            # decreasing end-offsets pass the min/max bounds check but
            # would yield silently empty/truncated elements (r17
            # advice) — fail as loudly as an overrun does
            raise DruidSegmentError(
                "corrupt GenericIndexed: element end-offsets are not "
                "monotonically non-decreasing — damaged header")
        flat = bytes(buf.b[value_base:value_base + int(ends[-1])])
        prev = 0
        null_marker = b"\xff\xff\xff\xff"
        for end in ends.tolist():
            if end - prev == 4 and flat[prev:prev + 4] == null_marker:
                out.append(None)
            else:
                out.append(flat[prev + 4:end])
            prev = end
    # totalSize counts from the numElements int onward
    buf.pos = header_end - 4 * n - 4 + total_size
    return out


def _read_generic_indexed_v2(buf: _Buf, mapper) -> list[bytes | None]:
    """Body of the v2 (multi-file) GenericIndexed read; ``buf`` sits
    just past the version byte. Header ints are written in the
    WRITER's native byte order (GenericIndexedWriter.writeHeaderLong
    allocates nativeOrder and GenericIndexed.java:300 reads the same
    way) — little-endian on every production platform; if the LE
    parse violates per-file monotonicity we retry BE (a big-endian
    writer) before declaring the header damaged."""
    import numpy as np

    buf.u8()  # allowReverseLookup
    bag_power = buf.i32()
    n = buf.i32()
    name = _read_prefixed_string(buf)
    per_file = 1 << bag_power
    n_files = (n + per_file - 1) // per_file
    header = bytes(mapper.file(f"{name}_header"))
    if len(header) < 4 * n:
        raise DruidSegmentError(
            f"GenericIndexed v2 header for {name!r} holds "
            f"{len(header) // 4} offsets for {n} elements")
    # keep the mapped members as views — a v2 column is >2 GB by
    # definition, so a bytes() copy of every value file would double
    # peak memory (r17 review #4); elements copy out one at a time
    flats = [mapper.file(f"{name}_value_{f}")
             for f in range(n_files)]

    def parse(order: str):
        ends = np.frombuffer(header, dtype=f"{order}i4",
                             count=n).astype(np.int64)
        for f in range(n_files):
            part = ends[f * per_file:(f + 1) * per_file]
            # writeToMultiFiles sizes each value file to EXACTLY its
            # bag's bytes, so the last relative offset must equal the
            # file length — this also disambiguates the byte order
            if len(part) == 0 or int(part.min()) < 4 \
                    or int(part[-1]) != len(flats[f]) \
                    or (len(part) > 1
                        and bool(np.any(np.diff(part) < 0))):
                return None
        return ends

    ends = parse("<")
    if ends is None:
        ends = parse(">")
    if ends is None:
        raise DruidSegmentError(
            f"corrupt GenericIndexed v2 header for {name!r}: "
            "offsets fail monotonicity / file-length checks in "
            "either byte order — damaged header or truncated value "
            "file")
    out: list[bytes | None] = []
    null_marker = b"\xff\xff\xff\xff"
    for f in range(n_files):
        flat = flats[f]
        prev = 0
        for end in ends[f * per_file:(f + 1) * per_file].tolist():
            if end - prev == 4 \
                    and bytes(flat[prev:prev + 4]) == null_marker:
                out.append(None)
            else:
                out.append(bytes(flat[prev + 4:end]))
            prev = end
    return out


# ---------------------------------------------------------------------------
# decompression (pure Python; no lz4/lzf libs in this rig)
# ---------------------------------------------------------------------------


def lz4_block_decompress(src, max_out: int) -> bytearray:
    """Raw LZ4 block format (the public spec; what
    CompressionStrategy.LZ4's safeDecompressor consumes).

    Pure-Python FALLBACK behind the native seam in ``_decompress``
    (r16 verdict #5) — a ctypes handle to the system liblz4 serves
    the hot path at native rate when present. This loop was A/B'd
    against preallocated-memoryview and bytearray-slice-assign
    variants and against a fully numpy-vectorized decoder
    (per-position parse + pointer-doubling gather-map): the
    append-style loop below is the fastest pure shape (~13 MB/s on
    match-heavy structured chunks; the vector path loses because the
    per-byte parse does 4× the work of the ~8 k real tokens) —
    numbers in SCALE.md r17."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise DruidSegmentError("corrupt LZ4 chunk: truncated "
                                    "literal run")
        out += src[i:i + lit]
        i += lit
        if i >= n:
            break  # final literal-only sequence
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(out):
            raise DruidSegmentError("corrupt LZ4 chunk: bad offset")
        mlen = token & 0xF
        if mlen == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        mlen += 4
        start = len(out) - offset
        if offset >= mlen:
            out += out[start:start + mlen]
        else:  # overlapping match: doubling copy
            chunk = bytes(out[start:])
            while mlen > len(chunk):
                out += chunk
                mlen -= len(chunk)
                chunk = bytes(out[start:])
            out += chunk[:mlen]
        if len(out) > max_out:
            raise DruidSegmentError("corrupt LZ4 chunk: overruns "
                                    f"declared size {max_out}")
    return out


def lz4_block_compress(src: bytes) -> bytes:
    """Greedy LZ4 block encoder (hash-table matcher over 4-byte
    prefixes, standard end-of-block literal rules). Exists so tests
    and benches can round-trip MATCH-BEARING chunks through the
    decoder and so synthetic containers exercise the real decode
    path; correctness over ratio/speed — production chunks are
    written by Druid, not by us."""
    n = len(src)
    if n == 0:
        return b"\x00"
    out = bytearray()
    table: dict[int, int] = {}
    anchor = 0
    i = 0
    # spec: the last match must start >= 12 bytes before the end and
    # the last 5 bytes are always literals
    limit = n - 12
    while i <= limit:
        key = src[i:i + 4]
        k = int.from_bytes(key, "little")
        cand = table.get(k)
        table[k] = i
        if (cand is None or i - cand > 0xFFFF
                or src[cand:cand + 4] != key):
            i += 1
            continue
        mlen = 4
        while (i + mlen < n - 5
               and src[cand + mlen] == src[i + mlen]):
            mlen += 1
        lit = src[anchor:i]
        _emit_sequence(out, lit, i - cand, mlen)
        i += mlen
        anchor = i
    lit = src[anchor:]
    _emit_sequence(out, lit, None, None)
    return bytes(out)


def _emit_sequence(out: bytearray, lit: bytes, offset, mlen) -> None:
    ll = len(lit)
    ml = 0 if mlen is None else mlen - 4
    token_l = 15 if ll >= 15 else ll
    token_m = 15 if ml >= 15 else ml
    out.append((token_l << 4) | (0 if mlen is None else token_m))
    rem = ll - 15
    if rem >= 0:
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)
    out += lit
    if mlen is None:
        return
    out += offset.to_bytes(2, "little")
    rem = ml - 15
    if rem >= 0:
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)


def lzf_decompress(src) -> bytearray:
    """com.ning LZFDecoder chunked format ("ZV" chunks; type 0 raw,
    type 1 LZF-block-compressed) — CompressionStrategy.LZF (0x0),
    the pre-0.9 default."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        if src[i] != 0x5A or src[i + 1] != 0x56:
            raise DruidSegmentError("corrupt LZF chunk: bad magic")
        ctype = src[i + 2]
        clen = (src[i + 3] << 8) | src[i + 4]
        i += 5
        if ctype == 0:
            out += src[i:i + clen]
            i += clen
        elif ctype == 1:
            i += 2  # uncompressed length (unused — blocks self-end)
            block = src[i:i + clen]
            i += clen
            j, m = 0, len(block)
            while j < m:
                c = block[j]
                j += 1
                if c < 32:
                    out += block[j:j + c + 1]
                    j += c + 1
                else:
                    length = c >> 5
                    if length == 7:
                        length += block[j]
                        j += 1
                    off = ((c & 0x1F) << 8 | block[j]) + 1
                    j += 1
                    start = len(out) - off
                    for k in range(length + 2):
                        out.append(out[start + k])
        else:
            raise DruidSegmentError(f"corrupt LZF chunk type {ctype}")
    return out


# Native decode seam (r16 verdict #5). Resolution order for LZ4
# chunks: python-lz4's block module if someone installed it, else a
# ctypes handle to the SYSTEM liblz4 — which is ambient on any Spark
# image (Spark's own shuffle/IO codecs depend on lz4), so the native
# ~70× rate needs no pip install at all — else the pure-Python loop
# above. ZSTD chunks (strategy 0x2, written by newer Druid versions
# than this reference) decode through libzstd the same way; without
# it they stay a named loud.


def _load_lz4_ctypes():
    import ctypes
    import ctypes.util

    for name in ("liblz4.so.1", "liblz4.so",
                 ctypes.util.find_library("lz4")):
        if not name:
            continue
        try:
            fn = ctypes.CDLL(name).LZ4_decompress_safe
        except (OSError, AttributeError):
            continue
        fn.restype = ctypes.c_int
        fn.argtypes = [ctypes.c_char_p, ctypes.c_char_p,
                       ctypes.c_int, ctypes.c_int]
        return fn
    return None


def _load_zstd_ctypes():
    import ctypes
    import ctypes.util

    for name in ("libzstd.so.1", "libzstd.so",
                 ctypes.util.find_library("zstd")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
            dec, err = lib.ZSTD_decompress, lib.ZSTD_isError
        except (OSError, AttributeError):
            continue
        dec.restype = ctypes.c_size_t
        dec.argtypes = [ctypes.c_char_p, ctypes.c_size_t,
                        ctypes.c_char_p, ctypes.c_size_t]
        err.restype = ctypes.c_uint
        err.argtypes = [ctypes.c_size_t]
        return dec, err
    return None


# NOTE deliberately NOT python-lz4's block module: its
# uncompressed_size kwarg demands the EXACT payload size, but Druid
# chunk envelopes only give a capacity bound (size_per*width + pad),
# so it would reject every valid chunk (r17 review #2). The ctypes
# LZ4_decompress_safe has capacity-bound semantics, matching the
# reference's safeDecompressor.
_lz4_ctypes = _load_lz4_ctypes()
_zstd_ctypes = _load_zstd_ctypes()


def _decompress(strategy: int, data, max_out: int) -> bytes:
    if strategy == 0x1:  # LZ4
        if _lz4_ctypes is not None:
            import ctypes

            dst = ctypes.create_string_buffer(max_out)
            rc = _lz4_ctypes(bytes(data), dst, len(data), max_out)
            if rc < 0:
                raise DruidSegmentError(
                    f"corrupt LZ4 chunk: native decoder rc={rc}")
            return dst.raw[:rc]
        return bytes(lz4_block_decompress(data, max_out))
    if strategy == 0x0:  # LZF
        return bytes(lzf_decompress(data))
    if strategy == 0xFF:  # UNCOMPRESSED
        return bytes(data)
    if strategy == 0x2:  # ZSTD (newer Druid than this reference)
        if _zstd_ctypes is None:
            raise DruidSegmentError(
                "ZSTD-compressed segment chunks need a system "
                "libzstd (none found) — install libzstd, or "
                "re-ingest with lz4 (the Druid default)")
        import ctypes

        dec, is_err = _zstd_ctypes
        dst = ctypes.create_string_buffer(max_out)
        rc = dec(dst, max_out, bytes(data), len(data))
        if is_err(rc):
            raise DruidSegmentError(
                f"corrupt ZSTD chunk: native decoder rc={rc}")
        return dst.raw[:rc]
    raise DruidSegmentError(f"unknown compression strategy "
                            f"{strategy:#x}")


# ---------------------------------------------------------------------------
# numeric columns (CompressedColumnar{Longs,Floats,Doubles}Supplier)
# ---------------------------------------------------------------------------


def _unpack_bits(chunk: bytes, bits: int, count: int):
    """VSizeLongSerde big-endian bitstream (VSizeLongSerde.java:152 —
    value i occupies bits [i*bits, (i+1)*bits) MSB-first)."""
    import numpy as np

    if bits in (8, 16, 32, 64):
        dt = {8: ">u1", 16: ">u2", 32: ">u4", 64: ">u8"}[bits]
        need = count * (bits // 8)
        return np.frombuffer(chunk[:need], dtype=dt).astype(np.int64)
    arr = np.frombuffer(chunk, dtype=np.uint8)
    bits_arr = np.unpackbits(arr)
    need = count * bits
    if len(bits_arr) < need:
        raise DruidSegmentError("bit-packed chunk shorter than "
                                "declared value count")
    mat = bits_arr[:need].reshape(count, bits).astype(np.int64)
    weights = (1 << np.arange(bits - 1, -1, -1, dtype=np.int64))
    return mat @ weights


def _read_long_encoding_header(buf: _Buf, comp_id: int):
    """CompressedColumnarLongsSupplier.fromByteBuffer:100 — v2 headers
    may carry a long-encoding flag (CompressionFactory.FLAG_VALUE=126:
    flagged ids are id-126; the encoding byte follows)."""
    encoding = ("LONGS", None)
    if comp_id != 0xFF and comp_id not in (0x0, 0x1, 0x2, 0xFE):
        # flagged: real id = comp_id + 126 (mod 256), encoding follows
        comp_id = (comp_id + 126) & 0xFF
        enc_id = buf.u8()
        if enc_id == 0x0:  # DELTA
            version = buf.u8()
            if version != 0x1:
                raise DruidSegmentError("unknown DELTA encoding "
                                        f"version {version}")
            base = buf.i64()
            bits = buf.i32()
            encoding = ("DELTA", (base, bits))
        elif enc_id == 0x1:  # TABLE
            version = buf.u8()
            if version != 0x1:
                raise DruidSegmentError("unknown TABLE encoding "
                                        f"version {version}")
            tsize = buf.i32()
            table = [buf.i64() for _ in range(tsize)]
            bits = 64
            for cand in (1, 2, 4, 8, 12, 16, 20, 24, 32, 40, 48, 56):
                if (1 << cand) - 1 >= max(tsize - 1, 0):
                    bits = cand
                    break
            encoding = ("TABLE", (table, bits))
        elif enc_id == 0xFF:  # LONGS, explicitly flagged
            encoding = ("LONGS", None)
        else:
            raise DruidSegmentError(f"unknown long encoding {enc_id}")
    return comp_id, encoding


def _chunk_sel(rows, done: int, count: int):
    """Row-mask slice for the chunk covering [done, done+count),
    rebased to chunk-local positions (``rows`` is sorted)."""
    import numpy as np

    lo = int(np.searchsorted(rows, done, "left"))
    hi = int(np.searchsorted(rows, done + count, "left"))
    return rows[lo:hi] - done


def read_compressed_longs(buf: _Buf, little_endian: bool = True,
                          rows=None, mapper=None):
    """CompressedColumnarLongsSupplier.java:100: version 0x1 (LZF,
    LONGS) or 0x2 (compression byte, optional encoding flag), then a
    GenericIndexed of compressed chunks of sizePer values each.

    ``rows`` (sorted int64 row ids) enables bitmap-pushdown chunk
    skipping: chunks with no selected row are never DECOMPRESSED
    (the reference's own pre-filter split,
    QueryableIndexStorageAdapter.java:404) and only the selected
    values are returned, in mask order."""
    import numpy as np

    version = buf.u8()
    if version not in (0x1, 0x2):
        raise DruidSegmentError(f"unknown compressed-longs version "
                                f"{version}")
    total, size_per = buf.i32(), buf.i32()
    comp, encoding = 0x0, ("LONGS", None)
    if version == 0x2:
        comp, encoding = _read_long_encoding_header(buf, buf.u8())
    if comp == 0xFE:  # NONE: EntireLayout, no chunk index
        kind, arg = encoding
        if kind == "LONGS":
            raw = buf.take(total * 8)
            dt = "<i8" if little_endian else ">i8"
            out = np.frombuffer(raw, dtype=dt).astype(np.int64)
        else:
            raw = buf.take(buf.remaining())
            ids = _unpack_bits(raw, arg[1], total)
            out = (arg[0] + ids if kind == "DELTA"
                   else np.asarray(arg[0], dtype=np.int64)[ids])
        return out if rows is None else out[rows]
    chunks = read_generic_indexed(buf, mapper)
    out = np.empty(total if rows is None else len(rows),
                   dtype=np.int64)
    done = written = 0
    kind, arg = encoding
    for c in chunks:
        count = min(size_per, total - done)
        if count <= 0:
            break
        if rows is not None:
            sel = _chunk_sel(rows, done, count)
            if len(sel) == 0:
                done += count
                continue
        raw = _decompress(comp, c, size_per * 8 + 8)
        if kind == "LONGS":
            dt = "<i8" if little_endian else ">i8"
            vals = np.frombuffer(raw[:count * 8], dtype=dt) \
                .astype(np.int64)
        else:
            ids = _unpack_bits(raw, arg[1], count)
            vals = (arg[0] + ids if kind == "DELTA"
                    else np.asarray(arg[0], dtype=np.int64)[ids])
        if rows is None:
            out[done:done + count] = vals
        else:
            out[written:written + len(sel)] = vals[sel]
            written += len(sel)
        done += count
    if done != total:
        raise DruidSegmentError(f"longs column truncated: {done} of "
                                f"{total} values")
    return out


def _read_compressed_fixed(buf: _Buf, total: int, size_per: int,
                           comp: int, width: int, dtype: str,
                           rows=None, mapper=None):
    import numpy as np

    chunks = read_generic_indexed(buf, mapper)
    out = np.empty(total if rows is None else len(rows),
                   dtype=dtype[1:])
    done = written = 0
    for c in chunks:
        count = min(size_per, total - done)
        if count <= 0:
            break
        if rows is not None:
            sel = _chunk_sel(rows, done, count)
            if len(sel) == 0:
                done += count
                continue
        raw = _decompress(comp, c, size_per * width + 8)
        vals = np.frombuffer(raw[:count * width], dtype=dtype)
        if rows is None:
            out[done:done + count] = vals
        else:
            out[written:written + len(sel)] = vals[sel]
            written += len(sel)
        done += count
    if done != total:
        raise DruidSegmentError(f"numeric column truncated: {done} "
                                f"of {total} values")
    return out


def read_compressed_floats(buf: _Buf, little_endian: bool = True,
                           rows=None, mapper=None):
    """CompressedColumnarFloatsSupplier.java:85."""
    version = buf.u8()
    if version not in (0x1, 0x2):
        raise DruidSegmentError(f"unknown compressed-floats version "
                                f"{version}")
    total, size_per = buf.i32(), buf.i32()
    comp = buf.u8() if version == 0x2 else 0x0
    return _read_compressed_fixed(
        buf, total, size_per, comp, 4,
        "<f4" if little_endian else ">f4", rows, mapper)


def read_compressed_doubles(buf: _Buf, little_endian: bool = True,
                            rows=None, mapper=None):
    """CompressedColumnarDoublesSuppliers (same envelope as floats)."""
    version = buf.u8()
    if version not in (0x1, 0x2):
        raise DruidSegmentError(f"unknown compressed-doubles version "
                                f"{version}")
    total, size_per = buf.i32(), buf.i32()
    comp = buf.u8() if version == 0x2 else 0x0
    return _read_compressed_fixed(
        buf, total, size_per, comp, 8,
        "<f8" if little_endian else ">f8", rows, mapper)


# ---------------------------------------------------------------------------
# dictionary-id columns
# ---------------------------------------------------------------------------


def read_vsize_ints(buf: _Buf):
    """VSizeColumnarInts.java:177 — uncompressed ids: byte version
    0x0, byte numBytes, int byteLen, then values as numBytes
    BIG-endian bytes each (4-numBytes trailing pad)."""
    import numpy as np

    version = buf.u8()
    if version != 0x0:
        raise DruidSegmentError(f"unknown VSizeColumnarInts version "
                                f"{version}")
    num_bytes = buf.u8()
    size = buf.i32()
    raw = buf.take(size)
    count = (len(raw) - (4 - num_bytes)) // num_bytes
    return _be_ints(np.frombuffer(raw, dtype=np.uint8), num_bytes,
                    count)


def _be_ints(arr, num_bytes: int, count: int):
    import numpy as np

    vals = np.zeros(count, dtype=np.int64)
    for j in range(num_bytes):
        vals = (vals << 8) | arr[j:j + count * num_bytes:num_bytes] \
            .astype(np.int64)
    return vals


def _le_ints(raw: bytes, num_bytes: int, count: int):
    import numpy as np

    arr = np.frombuffer(raw[:count * num_bytes], dtype=np.uint8)
    vals = np.zeros(count, dtype=np.int64)
    for j in range(num_bytes):
        vals |= arr[j::num_bytes].astype(np.int64) << (8 * j)
    return vals


def read_compressed_vsize_ints(buf: _Buf, little_endian: bool = True,
                               rows=None, mapper=None):
    """CompressedVSizeColumnarIntsSupplier.java:143: version 0x2,
    byte numBytes, int totalSize, int sizePer, compression byte, then
    GenericIndexed chunks of sizePer values x numBytes (column byte
    order) each. ``rows`` skips whole chunks like
    read_compressed_longs."""
    import numpy as np

    version = buf.u8()
    if version != 0x2:
        raise DruidSegmentError(f"unknown CompressedVSize version "
                                f"{version}")
    num_bytes = buf.u8()
    total, size_per = buf.i32(), buf.i32()
    comp = buf.u8()
    chunks = read_generic_indexed(buf, mapper)
    out = np.empty(total if rows is None else len(rows),
                   dtype=np.int64)
    done = written = 0
    for c in chunks:
        count = min(size_per, total - done)
        if count <= 0:
            break
        if rows is not None:
            sel = _chunk_sel(rows, done, count)
            if len(sel) == 0:
                done += count
                continue
        raw = _decompress(comp, c, size_per * num_bytes + 4)
        if little_endian:
            vals = _le_ints(raw, num_bytes, count)
        else:
            vals = _be_ints(
                np.frombuffer(raw, dtype=np.uint8), num_bytes, count)
        if rows is None:
            out[done:done + count] = vals
        else:
            out[written:written + len(sel)] = vals[sel]
            written += len(sel)
        done += count
    if done != total:
        raise DruidSegmentError(f"ids column truncated: {done} of "
                                f"{total}")
    return out


def read_vsize_multi_ints(buf: _Buf):
    """VSizeColumnarMultiInts.java:172: byte version 0x1, byte
    numBytes, int byteLen, then [int count][count END offsets][value
    bytes] where row i's ids are numBytes-BE each in value bytes
    [off[i-1]:off[i])."""
    import numpy as np

    version = buf.u8()
    if version != 0x1:
        raise DruidSegmentError(f"unknown VSizeMulti version "
                                f"{version}")
    num_bytes = buf.u8()
    size = buf.i32()
    inner = _Buf(buf.take(size))
    count = inner.i32()
    offsets = np.frombuffer(
        inner.take(4 * count), dtype=">i4").astype(np.int64)
    values = inner.b[inner.pos:]
    rows = []
    prev = 0
    arr = np.frombuffer(bytes(values), dtype=np.uint8)
    for i in range(count):
        end = int(offsets[i])
        nvals = (end - prev) // num_bytes
        rows.append(_be_ints(arr[prev:], num_bytes, nvals))
        prev = end
    return rows


def read_v3_multi_ints(buf: _Buf, little_endian: bool = True,
                       mapper=None):
    """V3CompressedVSizeColumnarMultiIntsSupplier.java:59: version
    0x3, then compressed OFFSETS (CompressedColumnarInts: version 0x2,
    totalSize, sizePer, compression, 4-byte-value chunks) and
    compressed VALUES (CompressedVSize)."""
    import numpy as np

    version = buf.u8()
    if version != 0x3:
        raise DruidSegmentError(f"unknown V3 multi-ints version "
                                f"{version}")
    o_version = buf.u8()
    if o_version != 0x2:
        raise DruidSegmentError(f"unknown compressed-ints version "
                                f"{o_version}")
    o_total, o_per = buf.i32(), buf.i32()
    o_comp = buf.u8()
    offsets = np.empty(o_total, dtype=np.int64)
    done = 0
    for c in read_generic_indexed(buf, mapper):
        count = min(o_per, o_total - done)
        if count <= 0:
            break
        raw = _decompress(o_comp, c, o_per * 4 + 4)
        dt = "<i4" if little_endian else ">i4"
        offsets[done:done + count] = np.frombuffer(
            raw[:count * 4], dtype=dt)
        done += count
    values = read_compressed_vsize_ints(buf, little_endian,
                                        mapper=mapper)
    # offsets has totalSize = rows+1 boundaries (0, end0, end1, ...)
    return [values[offsets[i]:offsets[i + 1]]
            for i in range(o_total - 1)]


# ---------------------------------------------------------------------------
# roaring bitmaps (null bitmaps of the *V2 numeric serdes)
# ---------------------------------------------------------------------------


def read_roaring(data: bytes):
    """Portable RoaringBitmap serialization (the public spec;
    org.roaringbitmap serializes WrappedImmutableRoaringBitmap with
    it). Returns a sorted numpy array of set row ids."""
    import numpy as np

    if not data:
        return np.empty(0, dtype=np.int64)
    buf = memoryview(data)
    cookie = struct.unpack_from("<i", buf, 0)[0]
    run_flags = None
    if (cookie & 0xFFFF) == 12347:  # SERIAL_COOKIE (with runs)
        n_containers = (cookie >> 16) + 1
        n_flag_bytes = (n_containers + 7) // 8
        run_flags = bytes(buf[4:4 + n_flag_bytes])
        pos = 4 + n_flag_bytes
    elif cookie == 12346:  # SERIAL_COOKIE_NO_RUNCONTAINER
        n_containers = struct.unpack_from("<i", buf, 4)[0]
        pos = 8
    else:
        raise DruidSegmentError(f"unknown roaring cookie {cookie}")
    keys = []
    cards = []
    for i in range(n_containers):
        k, c = struct.unpack_from("<HH", buf, pos)
        keys.append(k)
        cards.append(c + 1)
        pos += 4
    if run_flags is None or n_containers >= 4:
        pos += 4 * n_containers  # offset header — sequential anyway
    out = []
    for i in range(n_containers):
        base = keys[i] << 16
        is_run = (run_flags is not None
                  and (run_flags[i // 8] >> (i % 8)) & 1)
        if is_run:
            n_runs = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", buf, pos)
                pos += 4
                out.append(base + np.arange(start, start + length + 1,
                                            dtype=np.int64))
        elif cards[i] > 4096:  # bitmap container: 8 KB
            words = np.frombuffer(buf[pos:pos + 8192], dtype=np.uint8)
            pos += 8192
            bits = np.unpackbits(words, bitorder="little")
            out.append(base + np.nonzero(bits)[0].astype(np.int64))
        else:  # array container
            vals = np.frombuffer(buf[pos:pos + 2 * cards[i]],
                                 dtype="<u2").astype(np.int64)
            pos += 2 * cards[i]
            out.append(base + vals)
    return (np.concatenate(out) if out
            else np.empty(0, dtype=np.int64))


def read_concise(data: bytes, max_rows: int | None = None):
    """CONCISE (Compressed 'n' Composable Integer Set) — the null-
    bitmap wire format of ConciseBitmapSerdeFactory
    (processing/.../data/ConciseBitmapSerdeFactory.java:58
    fromByteBuffer wraps the raw bytes as a big-endian IntBuffer;
    ImmutableConciseSet.toBytes is the plain word array). Word kinds
    (extendedset/.../ConciseSetUtils.java:149-207 and the expansion
    order in BitIterator.java:208-281):

    - literal  (MSB=1): bits 0..30 are 31 positions, LSB-first.
    - 0-seq    (top 2 bits 00): (count&0x01FFFFFF)+1 blocks of 31
      zeros; flip=((w&0x3FFFFFFF)>>25)-1 >= 0 marks ONE set bit at
      block_offset+flip (BitIterator literalAndZeroFillResetZeroSequence).
    - 1-seq    (top 2 bits 01): same geometry all ones, flip marks the
      single UNSET position (BitIterator oneFillReset's exception).

    Returns a sorted int64 numpy array of set row ids, like
    read_roaring. Literal words decode vectorized (one unpackbits over
    the batch); sequences expand per word (they are rare in null
    bitmaps and can span millions of rows — np.arange, not Python).

    ``max_rows`` bounds the decoded span: a corrupt sequence word
    with a huge block count would otherwise materialize gigabytes
    before anything notices (r17 review #4); without it the CONCISE
    format's own ceiling (MAX_ALLOWED_INTEGER,
    ConciseSetUtils.java:45) still applies."""
    import numpy as np

    if not data:
        return np.empty(0, dtype=np.int64)
    if len(data) % 4:
        raise DruidSegmentError(
            f"CONCISE blob length {len(data)} is not a whole number "
            "of 32-bit words — truncated or damaged bitmap")
    words = np.frombuffer(data, dtype=">u4")
    is_lit = (words >> 31).astype(bool)
    blocks = np.where(is_lit, 1, (words & 0x01FFFFFF) + 1)
    span = int(blocks.sum()) * 31
    # writers pad at most one trailing block past the last set bit;
    # allow two blocks of slack over the caller's row count
    limit = (max_rows + 62 if max_rows is not None
             else 31 * (1 << 25) + 31)  # MAX_ALLOWED_INTEGER bound
    if span > limit:
        raise DruidSegmentError(
            f"corrupt CONCISE bitmap: spans {span} positions but at "
            f"most {limit} are plausible here — damaged sequence "
            "word")
    # bit offset of each word's first block; int64 before the *31 —
    # a max-count sequence alone spans 2^25 blocks
    offs = np.zeros(len(words), dtype=np.int64)
    np.cumsum(blocks[:-1], out=offs[1:])
    offs *= 31
    out = []
    if bool(is_lit.any()):
        lit_words = words[is_lit].astype("<u4")
        lit_offs = offs[is_lit]
        bits = np.unpackbits(lit_words.view(np.uint8).reshape(-1, 4),
                             axis=1, bitorder="little", count=31)
        rows, cols = np.nonzero(bits)
        out.append(lit_offs[rows] + cols)
    for w, off in zip(words[~is_lit].tolist(),
                      offs[~is_lit].tolist()):
        flip = ((w & 0x3FFFFFFF) >> 25) - 1
        if w & 0x40000000:  # one-sequence
            span = 31 * ((w & 0x01FFFFFF) + 1)
            seq = np.arange(off, off + span, dtype=np.int64)
            if flip >= 0:
                seq = seq[seq != off + flip]
            out.append(seq)
        elif flip >= 0:  # zero-sequence with a single set bit
            out.append(np.asarray([off + flip], dtype=np.int64))
    if not out:
        return np.empty(0, dtype=np.int64)
    return np.sort(np.concatenate(out))


# ---------------------------------------------------------------------------
# the container
# ---------------------------------------------------------------------------


class SmooshedFiles:
    """meta.smoosh maps internal file names to (chunk, start, end)
    ranges inside NNNNN.smoosh chunk files. Accepts a persisted
    segment DIRECTORY or a deep-storage index.zip: directories are
    read by seek+range (a metadata peek never touches column bytes),
    zips stream members in memory (DEFLATE forbids random access) —
    NOTHING is ever extracted to disk."""

    def __init__(self, path: str):
        self.path = path
        self._zip = None
        if path.endswith(".zip") and os.path.isfile(path):
            self._zip = zipfile.ZipFile(path)
            names = set(self._zip.namelist())
            missing = {"meta.smoosh", "version.bin"} - names
            if missing:
                raise DruidSegmentError(
                    f"{path} is not a segment zip "
                    f"(no {sorted(missing)[0]})")
            meta_text = self._zip.read("meta.smoosh").decode("utf-8")
        else:
            meta = os.path.join(path, "meta.smoosh")
            if not os.path.exists(meta):
                raise DruidSegmentError(
                    f"{path} is not a smooshed segment directory "
                    "(no meta.smoosh)")
            with open(meta, encoding="utf-8") as f:
                meta_text = f.read()
        self.entries: dict[str, tuple[int, int, int]] = {}
        lines = meta_text.splitlines()
        header = lines[0].strip().split(",")
        if header[0] != "v1":
            raise DruidSegmentError(
                f"unknown meta.smoosh version {header[0]!r}")
        for line in lines[1:]:
            line = line.strip()
            if not line:
                continue
            name, chunk, start, end = line.rsplit(",", 3)
            self.entries[name] = (int(chunk), int(start), int(end))
        self._members: dict[int, bytes] = {}  # zip-mode chunk cache

    def names(self) -> list[str]:
        return sorted(self.entries)

    def read_aux(self, name: str) -> bytes:
        """A non-smooshed file beside the chunks (version.bin,
        factory.json)."""
        if self._zip is not None:
            try:
                return self._zip.read(name)
            except KeyError:
                raise DruidSegmentError(
                    f"{self.path}: no {name} — not a persisted Druid "
                    "segment") from None
        p = os.path.join(self.path, name)
        if not os.path.exists(p):
            raise DruidSegmentError(
                f"{self.path}: no {name} — not a persisted Druid "
                "segment")
        with open(p, "rb") as f:
            return f.read()

    def file(self, name: str) -> memoryview:
        if name not in self.entries:
            raise KeyError(name)
        chunk, start, end = self.entries[name]
        fname = f"{chunk:05d}.smoosh"
        if self._zip is not None:
            if chunk not in self._members:
                self._members[chunk] = self._zip.read(fname)
            data = self._members[chunk]
            if end > len(data):
                raise DruidSegmentError(
                    f"meta.smoosh entry {name!r} [{start},{end}) "
                    f"overruns chunk file {fname} ({len(data)} "
                    "bytes) — truncated or damaged container")
            return memoryview(data)[start:end]
        path = os.path.join(self.path, fname)
        size = os.path.getsize(path)
        if end > size:
            raise DruidSegmentError(
                f"meta.smoosh entry {name!r} [{start},{end}) overruns "
                f"chunk file {fname} ({size} bytes) — truncated or "
                "damaged container")
        with open(path, "rb") as f:
            f.seek(start)
            return memoryview(f.read(end - start))

    def prefix(self, name: str, n: int) -> memoryview:
        """First ``n`` bytes of an internal file — the descriptor
        peek. Directory mode reads exactly n bytes (seek+range)."""
        if name not in self.entries:
            raise KeyError(name)
        chunk, start, end = self.entries[name]
        n = min(n, end - start)
        if self._zip is not None:
            return self.file(name)[:n]
        path = os.path.join(self.path, f"{chunk:05d}.smoosh")
        with open(path, "rb") as f:
            f.seek(start)
            return memoryview(f.read(n))

    def close(self) -> None:
        if self._zip is not None:
            self._zip.close()
        self._members.clear()


def _segment_version(smoosh: SmooshedFiles) -> int:
    """SegmentUtils.getVersionFromDir: the version.bin int when
    present, else the first byte of index.drd (the pre-v9 layout
    stores its version there)."""
    try:
        return struct.unpack(
            ">i", smoosh.read_aux("version.bin")[:4])[0]
    except DruidSegmentError:
        return int(memoryview(smoosh.file("index.drd"))[0])


def _check_version(smoosh: SmooshedFiles) -> None:
    version = _segment_version(smoosh)
    if version != 9:
        raise DruidSegmentError(
            f"segment binary version {version} unsupported (v9 via "
            "IndexIO.V9IndexLoader and v8 via the legacy "
            "DefaultIndexIOHandler layout are implemented)")


def _read_index_drd(smoosh: SmooshedFiles) -> dict:
    """IndexIO.java:548 — cols GI, dims GI, interval start/end millis,
    then (if present) the bitmap factory JSON and the 0.23+ all-cols /
    all-dims GIs (null-only column restoration)."""
    buf = _Buf(smoosh.file("index.drd"))
    cols = [c.decode("utf-8") for c in read_generic_indexed(buf) if c]
    dims = [d.decode("utf-8") for d in read_generic_indexed(buf) if d]
    start, end = buf.i64(), buf.i64()
    bitmap_type = "concise"  # pre-factory default (legacy serde)
    if buf.remaining() > 0:
        bitmap_type = json.loads(
            _read_prefixed_string(buf)).get("type", "concise")
    all_cols = all_dims = None
    if buf.remaining() > 0:
        raw_all_cols = read_generic_indexed(buf)
        raw_all_dims = read_generic_indexed(buf)
        # IndexIO.restoreColumns: positions with null take the next
        # non-null name; others are null-only columns
        def merge(nn, alls):
            it = iter(nn)
            return [next(it) if a is None else a.decode("utf-8")
                    for a in alls]
        all_cols = merge(cols, raw_all_cols)
        all_dims = merge(dims, raw_all_dims)
    meta = None
    if "metadata.drd" in smoosh.entries:
        try:
            meta = json.loads(bytes(smoosh.file("metadata.drd"))
                              .decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            meta = None  # same leniency as IndexIO (log-and-continue)
    return {"columns": all_cols or cols, "dimensions": all_dims or dims,
            "interval_start_ms": start, "interval_end_ms": end,
            "bitmap_type": bitmap_type, "metadata": meta}


def _read_nulls_tail(buf: _Buf, bitmap_type: str, part_end: int,
                     n_rows: int | None = None):
    """The *V2 numeric serdes (LongNumericColumnPartSerdeV2.java:143)
    append an ImmutableBitmap (4-byte size + bytes) of null rows.
    ``n_rows`` bounds a corrupt CONCISE sequence word's expansion."""
    if buf.pos >= part_end:
        return None
    size = buf.i32()
    data = buf.take(size)
    if not data.strip(b"\x00"):
        return None
    if bitmap_type == "roaring":
        return read_roaring(data)
    if bitmap_type == "concise":
        return read_concise(data, n_rows)
    raise DruidSegmentError(
        f"unknown null-bitmap serde {bitmap_type!r} (roaring and "
        "concise are the factory kinds — BitmapSerde.java)")


def read_column(name: str, blob, bitmap_type: str,
                rows=None, mapper=None) -> dict:
    """One smooshed column: 4-byte-len descriptor JSON, then each
    part's binary per its serde (ColumnDescriptor.read). ``rows``
    (sorted int64 row ids) restricts the decode to those rows —
    numeric and single-value dictionary columns SKIP whole compressed
    chunks with no selected row (bitmap pushdown, r16 verdict #4);
    multi-value and complex columns decode fully then gather."""
    import numpy as np

    buf = _Buf(blob)
    desc = json.loads(_read_prefixed_string(buf))
    out = {"name": name, "type": desc.get("valueType"),
           "has_multiple_values": bool(desc.get("hasMultipleValues")),
           "values": None, "complex_type": None}
    for part in desc.get("parts", []):
        ptype = part.get("type")
        little = part.get("byteOrder", "LITTLE_ENDIAN") \
            == "LITTLE_ENDIAN"
        part_end = len(blob)  # parts are sequential; last wins
        if ptype == "stringDictionary":
            out["values"] = _read_string_part(buf, part, bitmap_type,
                                              rows, mapper)
        elif ptype in ("long", "longV2"):
            offset_end = None
            n_total = None
            if ptype == "longV2":
                offset = buf.i32()
                offset_end = buf.pos + offset
                # envelope row count (version byte, then totalSize) —
                # bounds corrupt-CONCISE expansion in the nulls tail
                n_total = struct.unpack_from(">i", blob,
                                             buf.pos + 1)[0]
            vals = read_compressed_longs(buf, little, rows, mapper)
            nulls = None
            if ptype == "longV2":
                buf.pos = offset_end
                nulls = _read_nulls_tail(buf, bitmap_type, part_end,
                                         n_total)
            out["values"] = _apply_nulls(vals, nulls, rows=rows)
        elif ptype in ("float", "floatV2"):
            offset_end = None
            n_total = None
            if ptype == "floatV2":
                offset = buf.i32()
                offset_end = buf.pos + offset
                # envelope row count (version byte, then totalSize) —
                # bounds corrupt-CONCISE expansion in the nulls tail
                n_total = struct.unpack_from(">i", blob,
                                             buf.pos + 1)[0]
            vals = read_compressed_floats(buf, little, rows,
                                          mapper)
            nulls = None
            if ptype == "floatV2":
                buf.pos = offset_end
                nulls = _read_nulls_tail(buf, bitmap_type, part_end,
                                         n_total)
            out["values"] = _apply_nulls(
                vals.astype(np.float64), nulls, float_nan=True,
                rows=rows)
        elif ptype in ("double", "doubleV2"):
            offset_end = None
            n_total = None
            if ptype == "doubleV2":
                offset = buf.i32()
                offset_end = buf.pos + offset
                # envelope row count (version byte, then totalSize) —
                # bounds corrupt-CONCISE expansion in the nulls tail
                n_total = struct.unpack_from(">i", blob,
                                             buf.pos + 1)[0]
            vals = read_compressed_doubles(buf, little, rows,
                                           mapper)
            nulls = None
            if ptype == "doubleV2":
                buf.pos = offset_end
                nulls = _read_nulls_tail(buf, bitmap_type, part_end,
                                         n_total)
            out["values"] = _apply_nulls(vals, nulls, float_nan=True,
                                         rows=rows)
        elif ptype == "complex":
            out["complex_type"] = part.get("typeName")
            vals = read_generic_indexed(buf, mapper)
            if rows is not None:
                vals = [vals[int(i)] for i in rows]
            out["values"] = vals
        elif ptype == "null":
            out["values"] = None  # row count filled by the caller
            out["all_null"] = True
        else:
            raise DruidSegmentError(
                f"column {name!r}: unsupported part serde {ptype!r}")
    return out


def _apply_nulls(vals, nulls, float_nan: bool = False, rows=None):
    """``nulls`` holds GLOBAL row ids; with a pushdown ``rows`` mask
    the values array is mask-RELATIVE, so null positions remap
    through searchsorted membership."""
    import numpy as np

    if nulls is None or len(nulls) == 0:
        return vals
    if rows is not None:
        nulls = np.nonzero(np.isin(rows, nulls))[0]
        if len(nulls) == 0:
            return vals
    if float_nan:
        out = vals.astype("float64").copy()
        out[nulls] = float("nan")
        return out
    out = vals.astype(object)
    for i in nulls:
        out[i] = None
    return out


def _read_string_part(buf: _Buf, part: dict, bitmap_type: str,
                      rows=None, mapper=None):
    """DictionaryEncodedColumnPartSerde.java:286. ``rows`` restricts
    the decode (single-value compressed ids skip whole chunks;
    multi-value decodes fully then gathers)."""
    version = buf.u8()
    if version > 0x3:
        raise DruidSegmentError(
            f"unsupported dictionary column version {version}")
    flags = buf.i32() if version >= 0x2 else (
        0x1 if version == 0x1 else 0)
    multi = bool(flags & 0x1 or flags & 0x2)  # MULTI_VALUE(_V3)
    little = part.get("byteOrder", "LITTLE_ENDIAN") == "LITTLE_ENDIAN"
    dictionary = [None if b is None else b.decode("utf-8")
                  for b in read_generic_indexed(buf, mapper)]

    def lookup(i):
        return dictionary[int(i)]

    if multi:
        if version in (0x1, 0x3):
            mv_rows = read_vsize_multi_ints(buf)
        elif flags & 0x2:  # MULTI_VALUE_V3 (compressed)
            mv_rows = read_v3_multi_ints(buf, little, mapper)
        else:  # compressed MULTI_VALUE: version 0x2, two
            # CompressedVSize columns — OFFSETS (row boundaries,
            # rows+1 entries) then VALUES
            # (CompressedVSizeColumnarMultiIntsSupplier.java:81)
            v2 = buf.u8()
            if v2 != 0x2:
                raise DruidSegmentError(
                    f"unknown compressed multi-ints version {v2}")
            offsets = read_compressed_vsize_ints(buf, little,
                                                 mapper=mapper)
            values = read_compressed_vsize_ints(buf, little,
                                                mapper=mapper)
            mv_rows = [values[offsets[i]:offsets[i + 1]]
                       for i in range(len(offsets) - 1)]
        if rows is not None:
            mv_rows = [mv_rows[int(i)] for i in rows]
        return [[lookup(i) for i in r] for r in mv_rows]
    if version in (0x0, 0x3):
        ids = read_vsize_ints(buf)
        if rows is not None:
            ids = ids[rows]
    else:
        ids = read_compressed_vsize_ints(buf, little, rows, mapper)
    # bitmap indexes follow — read on demand by _read_bitmap_index
    # for filter pushdown; the value decode never touches them.
    # One vectorized gather instead of a per-row lookup loop.
    import numpy as np

    return np.array(dictionary, dtype=object)[
        np.asarray(ids, dtype=np.int64)].tolist()


def skip_generic_indexed(buf: _Buf) -> None:
    """Jump the cursor past a GenericIndexed without touching its
    elements (v1 header: version, flag, totalSize — totalSize counts
    from the numElements int onward; v2 carries only META inline —
    the element bytes live in sibling smoosh members)."""
    version = buf.u8()
    if version == 0x2:
        buf.u8()  # allowReverseLookup
        buf.i32()  # bagSizePower
        buf.i32()  # numElements
        buf.pos += buf.i32()  # prefixed column name
        return
    if version != 0x1:
        raise DruidSegmentError(
            f"unknown GenericIndexed version {version}")
    buf.u8()  # allowReverseLookup
    buf.pos += 4 + buf.i32()  # numElements int + payload


_NO_BITMAP_INDEX = 0x4  # DictionaryEncodedColumnPartSerde.Feature


def _read_bitmap_index(blob, bitmap_type: str, mapper=None):
    """Parse a string column's per-value bitmap index region
    (DictionaryEncodedColumnPartSerde.java:347: after the id
    section, GenericIndexed<ImmutableBitmap> in dictionary order,
    absent when Feature.NO_BITMAP_INDEX is set).

    Returns (dictionary: list[str|None], bitmap_blobs: list[bytes],
    sorted_dict: bool) or None when the column carries no bitmap
    index. ``sorted_dict`` is the dictionary GI's allowReverseLookup
    byte — range (bound / like-prefix) pushdown is only sound over a
    sorted dictionary. Value regions are SKIPPED via their size
    headers — nothing is decompressed."""
    buf = _Buf(blob)
    desc = json.loads(_read_prefixed_string(buf))
    part = next((p for p in desc.get("parts", [])
                 if p.get("type") == "stringDictionary"), None)
    if part is None:
        return None
    version = buf.u8()
    if version > 0x3:
        return None
    flags = buf.i32() if version >= 0x2 else (
        0x1 if version == 0x1 else 0)
    if flags & _NO_BITMAP_INDEX:
        return None
    multi = bool(flags & 0x1 or flags & 0x2)
    # allowReverseLookup sits at offset 1 after the GI version byte
    # in BOTH v1 and v2 layouts; gate on a known version so a future
    # framing change fails the peek instead of misreporting sorted
    sorted_dict = len(blob) > buf.pos + 1 \
        and blob[buf.pos] in (0x1, 0x2) \
        and blob[buf.pos + 1] == 0x1
    dictionary = [None if b is None else b.decode("utf-8")
                  for b in read_generic_indexed(buf, mapper)]
    # skip the id section without decoding
    if multi and version in (0x1, 0x3):
        buf.u8()  # VSizeMulti version
        buf.u8()  # numBytes
        buf.pos += buf.i32()
    elif multi and flags & 0x2:  # MULTI_VALUE_V3
        v = buf.u8()
        if v != 0x3:
            raise DruidSegmentError(
                f"unknown V3 multi-ints version {v}")
        # compressed OFFSETS envelope then compressed VALUES envelope
        ov = buf.u8()
        if ov != 0x2:
            raise DruidSegmentError(
                f"unknown compressed-ints version {ov}")
        buf.pos += 9  # totalSize, sizePer, compression byte
        skip_generic_indexed(buf)
        _skip_compressed_vsize(buf)
    elif multi:  # compressed MULTI_VALUE: two CompressedVSize columns
        v2 = buf.u8()
        if v2 != 0x2:
            raise DruidSegmentError(
                f"unknown compressed multi-ints version {v2}")
        _skip_compressed_vsize(buf)
        _skip_compressed_vsize(buf)
    elif version in (0x0, 0x3):  # uncompressed VSize single
        buf.u8()  # version
        buf.u8()  # numBytes
        buf.pos += buf.i32()
    else:
        _skip_compressed_vsize(buf)
    bitmaps = read_generic_indexed(buf, mapper)
    if len(bitmaps) != len(dictionary):
        raise DruidSegmentError(
            f"bitmap index has {len(bitmaps)} entries for "
            f"{len(dictionary)} dictionary values")
    return dictionary, bitmaps, sorted_dict


def _skip_compressed_vsize(buf: _Buf) -> None:
    v = buf.u8()
    if v != 0x2:
        raise DruidSegmentError(
            f"unknown CompressedVSize version {v}")
    buf.pos += 10  # numBytes, totalSize, sizePer, compression byte
    skip_generic_indexed(buf)


def _decode_bitmap(blob, bitmap_type: str,
                   max_rows: int | None = None):
    import numpy as np

    if blob is None or len(blob) == 0:
        return np.empty(0, dtype=np.int64)
    if bitmap_type == "concise":
        return read_concise(blob, max_rows)
    return read_roaring(blob)


def _filter_row_mask(flt, smoosh: "SmooshedFiles", bitmap_type: str,
                     n_rows: int, cache: dict, file_fn=None):
    """Compile the bitmap-indexable part of a DimFilter to a sorted
    row-id mask BEFORE any chunk decode — the reference's own
    pre-filter split (QueryableIndexStorageAdapter.java:404).

    Returns (mask | None, exact: bool). A non-exact mask is a
    SUPERSET of the matching rows (safe: the Spark-side filter always
    re-applies); ``not`` demands an exact child and otherwise
    degrades to None (no pushdown). A selector/in carrying an
    extractionFn is NEVER pushed down — the dictionary holds raw
    values, and looking the filter value up raw would drop rows that
    match only after extraction (r17 review #1). ``file_fn`` lets the
    caller memoize column blob reads (read_segment_dir shares them
    with the value decode)."""
    import numpy as np

    if not isinstance(flt, dict):
        return None, False
    kind = flt.get("type")
    read_file = file_fn if file_fn is not None else smoosh.file

    def col_index(dim):
        if dim in cache:
            return cache[dim]
        out = None
        if dim in smoosh.entries:
            try:
                out = _read_bitmap_index(read_file(dim), bitmap_type,
                                         mapper=smoosh)
            except (DruidSegmentError, KeyError, ValueError,
                    struct.error, IndexError):
                out = None
        cache[dim] = out
        return out

    def rows_for_values(dim, values):
        idx = col_index(dim)
        if idx is None:
            return None, False
        dictionary, blobs, _sorted = idx
        parts = []
        # Druid accepts non-string filter values in JSON; the engine
        # stringifies before matching (operators/filters.py selector)
        # — match the dictionary the same way or numeric values
        # produce a false-empty mask (r17 review #3)
        want = {v if v is None else str(v) for v in values}
        exact = True
        # null and "" are interchangeable under Druid's LEGACY null
        # handling but distinct under SQL-compatible mode — include
        # both (a SUPERSET either way) and mark INEXACT so a ``not``
        # over this mask degrades instead of dropping rows
        if None in want or "" in want:
            want |= {None, ""}
            exact = False
        for i, d in enumerate(dictionary):
            if d in want:
                parts.append(_decode_bitmap(blobs[i], bitmap_type,
                                            n_rows))
        if not parts:
            return np.empty(0, dtype=np.int64), exact
        return np.unique(np.concatenate(parts)), exact

    def _sorted_dict_range(dim):
        """(encoded non-null values, null_count, blobs) for a SORTED
        dictionary, else None — the precondition for range scans."""
        idx = col_index(dim)
        if idx is None or not idx[2]:
            return None
        dictionary, blobs, _ = idx
        nulls = sum(1 for d in dictionary if d is None)
        if nulls > 1 or (nulls == 1 and dictionary[0] is not None):
            return None  # null must be the single leading entry
        enc = [d.encode("utf-8") for d in dictionary[nulls:]]
        return enc, nulls, blobs

    def _union_ids(blobs, ids, extra=()):
        parts = [_decode_bitmap(blobs[i], bitmap_type, n_rows)
                 for i in ids] + [
            _decode_bitmap(blobs[i], bitmap_type, n_rows)
            for i in extra]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(parts))

    def rows_for_bound(flt):
        """Lexicographic bound over a SORTED dictionary → contiguous
        id range → bitmap union (BoundFilter.getBitmapColumnIndex's
        own strategy). The dictionary sort and Spark's UTF8String
        comparison are both UTF-8 byte order, so the range is EXACT
        vs the downstream engine filter. Nulls match iff no lower
        bound (BoundFilter.java:227)."""
        import bisect

        ordering = flt.get("ordering") or (
            "alphanumeric" if flt.get("alphaNumeric")
            else "lexicographic")
        if ordering != "lexicographic":
            return None, False
        rng = _sorted_dict_range(flt.get("dimension"))
        if rng is None:
            return None, False
        enc, n_null, blobs = rng
        lower, upper = flt.get("lower"), flt.get("upper")
        lo_i = 0
        if lower is not None:
            lb = str(lower).encode("utf-8")
            lo_i = (bisect.bisect_right(enc, lb)
                    if flt.get("lowerStrict")
                    else bisect.bisect_left(enc, lb))
        hi_i = len(enc)
        if upper is not None:
            ub = str(upper).encode("utf-8")
            hi_i = (bisect.bisect_left(enc, ub)
                    if flt.get("upperStrict")
                    else bisect.bisect_right(enc, ub))
        ids = range(n_null + lo_i, n_null + max(hi_i, lo_i))
        if len(ids) > max(1024, len(enc) // 2):
            # a near-unselective range would decode a bitmap per
            # dictionary id and then skip nothing — pure added
            # latency; let the full decode serve it (r17 review #2)
            return None, False
        extra = range(n_null) if lower is None else ()
        return _union_ids(blobs, ids, extra), True

    def rows_for_like(flt):
        """LIKE with a literal prefix: 'pre%' (no other wildcards) is
        an EXACT contiguous dictionary range; 'pre%x_y' narrows to
        the same prefix range as a SUPERSET (the engine's full like
        re-applies). No literal prefix → no pushdown."""
        pattern = flt.get("pattern")
        if not isinstance(pattern, str) or flt.get("escape"):
            return None, False
        cut = len(pattern)
        for i, ch in enumerate(pattern):
            if ch in "%_":
                cut = i
                break
        prefix = pattern[:cut]
        if not prefix:
            return None, False
        rng = _sorted_dict_range(flt.get("dimension"))
        if rng is None:
            return None, False
        enc, n_null, blobs = rng
        import bisect

        p = prefix.encode("utf-8")
        lo_i = bisect.bisect_left(enc, p)
        hi_i = lo_i
        while hi_i < len(enc) and enc[hi_i].startswith(p):
            hi_i += 1
        exact = pattern == prefix + "%" or pattern == prefix
        if pattern == prefix:  # no wildcard at all: equality
            hi_i = lo_i + (1 if lo_i < len(enc) and enc[lo_i] == p
                           else 0)
        ids = range(n_null + lo_i, n_null + hi_i)
        if len(ids) > max(1024, len(enc) // 2):
            return None, False  # unselective prefix (r17 review #2)
        return _union_ids(blobs, ids), exact

    if kind in ("selector", "in", "bound", "like") \
            and flt.get("extractionFn"):
        return None, False  # dictionary holds RAW values only
    if kind == "bound":
        return rows_for_bound(flt)
    if kind == "like":
        return rows_for_like(flt)
    if kind == "selector":
        m, e = rows_for_values(flt.get("dimension"),
                               [flt.get("value")])
        return (m, e) if m is not None else (None, False)
    if kind == "in":
        m, e = rows_for_values(flt.get("dimension"),
                               list(flt.get("values") or []))
        return (m, e) if m is not None else (None, False)
    if kind == "and":
        masks, exact = [], True
        for f in flt.get("fields", []) or []:
            m, e = _filter_row_mask(f, smoosh, bitmap_type, n_rows,
                                    cache, file_fn)
            if m is None:
                exact = False
                continue
            exact = exact and e
            masks.append(m)
        if not masks:
            return None, False
        out = masks[0]
        for m in masks[1:]:
            out = np.intersect1d(out, m, assume_unique=True)
        return out, exact
    if kind == "or":
        masks, exact = [], True
        for f in flt.get("fields", []) or []:
            m, e = _filter_row_mask(f, smoosh, bitmap_type, n_rows,
                                    cache, file_fn)
            if m is None:
                return None, False  # union with unknown = unknown
            exact = exact and e
            masks.append(m)
        if not masks:
            return None, False
        return np.unique(np.concatenate(masks)), exact
    if kind == "not":
        m, e = _filter_row_mask(flt.get("field"), smoosh, bitmap_type,
                                n_rows, cache, file_fn)
        if m is None or not e:
            return None, False
        all_rows = np.arange(n_rows, dtype=np.int64)
        return np.setdiff1d(all_rows, m, assume_unique=True), True
    return None, False


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def _read_v8_frame(smoosh: "SmooshedFiles", lenient: bool,
                   interval, columns):
    """The LEGACY v8 container layout (IndexIO.java
    DefaultIndexIOHandler.mapDir:313-420) — smooshed members:

    - ``index.drd``: [byte 0x8][GI dims][GI metrics][prefixed ISO
      interval string]
    - ``time_<ORDER>.drd``: CompressedColumnarLongsSupplier (the v8
      writer used the platform's native order in the file NAME)
    - ``met_<name>_<ORDER>.drd``: MetricHolder — [byte 0x0]
      [prefixed name][prefixed typeName], then compressed floats or
      a GenericIndexed of complex blobs (MetricHolder.java:41; LONG
      metrics are unsupported there too)
    - ``dim_<name>.drd``: [prefixed name][GI dictionary]
      [VSizeColumnarMultiInts rows] — dims are ALWAYS the
      multi-value layout in v8, so they surface as array<string>
    - ``inverted.drd`` (per-value CONCISE bitmaps) and
      ``spatial.drd`` are parsed past — Spark filters replace them.

    Returns (pandas frame, info). ``interval`` applies as an exact
    post-decode row slice over the time-sorted rows; ``columns``
    projection skips unlisted dim/metric members entirely."""
    import numpy as np
    import pandas as pd

    try:
        buf = _Buf(smoosh.file("index.drd"))
    except KeyError:
        raise DruidSegmentError(
            "v8 container has no index.drd member") from None
    ver = buf.u8()
    if ver != 0x8:
        raise DruidSegmentError(
            f"v8 index.drd carries version {ver}")
    dims = [d.decode("utf-8") for d in read_generic_indexed(buf)
            if d is not None]
    mets = [m.decode("utf-8") for m in read_generic_indexed(buf)
            if m is not None]
    interval_str = _read_prefixed_string(buf)
    start_ms, end_ms = parse_interval(interval_str)

    time_name = next(
        (n for n in ("time_LITTLE_ENDIAN.drd", "time_BIG_ENDIAN.drd")
         if n in smoosh.entries), None)
    if time_name is None:
        raise DruidSegmentError("v8 container has no time_*.drd")
    little = "LITTLE" in time_name
    tv = read_compressed_longs(_Buf(smoosh.file(time_name)), little)

    keep = None if columns is None else set(columns)
    data = {"__time": tv}
    complex_types: dict = {}
    errors: dict = {}
    for dim in dims:
        if keep is not None and dim not in keep:
            continue
        try:
            b = _Buf(smoosh.file(f"dim_{dim}.drd"))
            fname = _read_prefixed_string(b)
            if fname != dim:
                raise DruidSegmentError(
                    f"dim file for {dim!r} names {fname!r}")
            dictionary = [None if x is None else x.decode("utf-8")
                          for x in read_generic_indexed(b, smoosh)]
            rows = read_vsize_multi_ints(b)
            data[dim] = [[dictionary[int(i)] for i in r]
                         for r in rows]
        except (DruidSegmentError, KeyError, ValueError, IndexError,
                struct.error) as e:
            if not lenient:
                raise
            errors[dim] = str(e) or type(e).__name__
            data[dim] = [None] * len(tv)
    for met in mets:
        if keep is not None and met not in keep:
            continue
        met_name = next(
            (n for o in ("LITTLE_ENDIAN", "BIG_ENDIAN")
             for n in (f"met_{met}_{o}.drd",)
             if n in smoosh.entries), None)
        try:
            if met_name is None:
                raise DruidSegmentError(f"no met_{met}_*.drd member")
            b = _Buf(smoosh.file(met_name))
            hver = b.u8()
            if hver != 0x0:
                raise DruidSegmentError(
                    f"unknown MetricHolder version {hver}")
            fname = _read_prefixed_string(b)
            type_name = _read_prefixed_string(b)
            if fname != met:
                raise DruidSegmentError(
                    f"metric file for {met!r} names {fname!r}")
            if type_name == "float":
                vals = read_compressed_floats(
                    b, "LITTLE" in met_name)
                data[met] = vals.astype(np.float64)
            elif type_name == "long":
                # MetricHolder.fromByteBuffer throws for LONG too
                raise DruidSegmentError(
                    "v8 MetricHolder LONG is unsupported upstream "
                    "as well (MetricHolder.java:65)")
            else:  # complex
                data[met] = read_generic_indexed(b, smoosh)
                complex_types[met] = type_name
        except (DruidSegmentError, KeyError, ValueError, IndexError,
                struct.error) as e:
            if not lenient:
                raise
            errors[met] = str(e) or type(e).__name__
            data[met] = [None] * len(tv)
    pdf = pd.DataFrame(data)
    pushdown = None
    if interval is not None:
        lo, hi = (parse_interval(interval)
                  if isinstance(interval, str) else interval)
        pdf = pdf[(pdf["__time"] >= lo)
                  & (pdf["__time"] < hi)].reset_index(drop=True)
        pushdown = len(pdf)
    info = {
        "columns": [c for c in dims + mets
                    if keep is None or c in keep],
        "dimensions": dims,
        "interval_start_ms": start_ms, "interval_end_ms": end_ms,
        "bitmap_type": "concise", "metadata": None,
        "column_errors": errors, "complex": complex_types,
        "rows": len(pdf), "v8": True,
    }
    if pushdown is not None:
        info["pushdown_rows"] = pushdown
    return pdf, info


def _peek_row_count(smoosh: "SmooshedFiles") -> int:
    """Row count from the __time column header (numeric totalSize)
    without decompressing anything — same bounded peek
    segment_metadata uses."""
    buf = _Buf(smoosh.prefix("__time", 4))
    desc_len = buf.i32()
    head = smoosh.prefix("__time", 4 + desc_len + 16)
    desc = json.loads(bytes(head[4:4 + desc_len]).decode("utf-8"))
    b = _Buf(head, 4 + desc_len)
    if (desc.get("parts") or [{}])[0].get("type", "").endswith("V2"):
        b.i32()
    b.u8()  # version
    return b.i32()


def read_segment_dir(dirpath: str, lenient: bool = False,
                     dim_filter: dict | None = None,
                     interval=None, columns=None):
    """Open a v9 segment directory → (pandas.DataFrame, info dict).

    Column types map as: __time/LONG -> int64 (ms for __time), FLOAT/
    DOUBLE -> float64 (NaN for V2 nulls), STRING -> object (None for
    null; lists for multi-value), COMPLEX -> object of bytes + the
    typeName recorded in info["complex"][name] (hyperUnique bytes
    feed ingest/hllc.py estimate_bytes/hllc_rollup directly).

    ``dim_filter`` (a Druid DimFilter dict) engages BITMAP-INDEX
    PUSHDOWN: the selector/in-expressible part compiles to a row mask
    from the container's own per-value bitmaps before any value chunk
    is decompressed, and every column decode skips chunks with no
    selected row. The mask may be a SUPERSET of the filter's matches
    (inexpressible subtrees drop out of an AND) — callers re-apply
    the full filter; info["pushdown_rows"] records the mask size, or
    -1 when the filter was not indexable.

    ``columns`` (an iterable of names) is PROJECTION pushdown: only
    the listed columns (plus ``__time``) are deserialized at all —
    a migration that keeps 3 of 40 columns never touches the other
    37 byte ranges.

    ``lenient=True`` mirrors Druid's lazy column loading
    (V9IndexLoaderTest.testLoadSegmentDamagedFileWithLazy): a column
    that fails to deserialize becomes all-null and the error is
    recorded in info["column_errors"] instead of aborting the whole
    container. IndexError is in the catch set deliberately: a chunk
    truncated mid-sequence surfaces as a bare IndexError from the
    byte cursors, and it must degrade like any other damaged
    column."""
    import pandas as pd

    smoosh = SmooshedFiles(dirpath)
    if _segment_version(smoosh) == 8:
        try:
            pdf, info = _read_v8_frame(smoosh, lenient, interval,
                                       columns)
        finally:
            smoosh.close()
        if dim_filter is not None and "pushdown_rows" not in info:
            info["pushdown_rows"] = -1  # Spark filter serves it
        return pdf, info
    _check_version(smoosh)
    info = _read_index_drd(smoosh)
    # memoized column blob reads: a filtered dimension's blob is
    # needed TWICE (bitmap-index parse, then value decode) — read it
    # once (r17 review #5)
    blob_memo: dict = {}

    def _blob(col):
        if col not in blob_memo:
            blob_memo[col] = smoosh.file(col)
        return blob_memo[col]

    mask = None
    if dim_filter is not None:
        total = _peek_row_count(smoosh)
        mask, _ = _filter_row_mask(dim_filter, smoosh,
                                   info["bitmap_type"], total, {},
                                   file_fn=_blob)
        info["pushdown_rows"] = -1 if mask is None else len(mask)
    time_col = read_column("__time", _blob("__time"),
                           info["bitmap_type"], rows=mask,
                           mapper=smoosh)
    time_vals = time_col["values"]
    if interval is not None:
        # segment rows are TIME-SORTED (IndexMerger persists by
        # __time), so an interval is a contiguous row range; decode
        # __time once, narrow the mask, and every OTHER column
        # chunk-skips to the range. Exact — no downstream superset.
        import numpy as np

        lo, hi = (parse_interval(interval)
                  if isinstance(interval, str) else interval)
        tv = np.asarray(time_vals, dtype=np.int64)
        keep = (tv >= lo) & (tv < hi)
        time_vals = tv[keep]
        mask = (np.nonzero(keep)[0].astype(np.int64)
                if mask is None else mask[keep])
        info["pushdown_rows"] = len(mask)
    n_rows = len(time_vals)
    data = {"__time": time_vals}
    complex_types = {}
    info["column_errors"] = {}
    keep_cols = None if columns is None else set(columns)
    for col in info["columns"]:
        if col == "__time" or col not in smoosh.entries:
            continue
        if keep_cols is not None and col not in keep_cols:
            continue
        try:
            parsed = read_column(col, blob_memo.pop(col, None)
                                 or smoosh.file(col),
                                 info["bitmap_type"], rows=mask,
                                 mapper=smoosh)
        except (DruidSegmentError, KeyError, ValueError,
                IndexError, struct.error) as e:
            if not lenient:
                raise
            info["column_errors"][col] = str(e) or type(e).__name__
            data[col] = [None] * n_rows
            continue
        if parsed.get("all_null") or parsed["values"] is None:
            data[col] = [None] * n_rows
            continue
        if len(parsed["values"]) != n_rows:
            raise DruidSegmentError(
                f"column {col!r} has {len(parsed['values'])} rows, "
                f"__time has {n_rows}")
        data[col] = parsed["values"]
        if parsed["complex_type"]:
            complex_types[col] = parsed["complex_type"]
    # null-only 0.23+ columns restored from all-cols appear with no
    # smoosh entry — they are the `data[col] = None * n` case above
    for col in info["columns"]:
        if col not in data and (keep_cols is None
                                or col in keep_cols):
            data[col] = [None] * n_rows
    info["complex"] = complex_types
    info["rows"] = n_rows
    smoosh.close()
    return pd.DataFrame(data), info


def read_segment_zip(zip_path: str, lenient: bool = False,
                     dim_filter: dict | None = None, interval=None,
                     columns=None):
    """A deep-storage index.zip → read IN PLACE (the loadSpec shape
    every Druid deep store uses). Nothing is extracted to disk:
    SmooshedFiles streams zip members in memory, so a migration task
    over thousands of zips touches only its own heap."""
    return read_segment_dir(zip_path, lenient=lenient,
                            dim_filter=dim_filter, interval=interval,
                            columns=columns)


def segment_metadata(path: str) -> dict:
    """SegmentMetadataQuery's analyses computed from the CONTAINER
    itself (SegmentMetadataQuery.java:50-59 — CARDINALITY, SIZE,
    INTERVAL, MINMAX; AGGREGATORS/ROLLUP/QUERYGRANULARITY come from
    metadata.drd verbatim): per-column type, serialized byte size,
    dictionary cardinality, and — because string dictionaries are
    stored SORTED (GenericIndexed allowReverseLookup) — minValue /
    maxValue as the first/last dictionary entries. Row count from
    the __time column header; NO value chunk is ever decompressed.
    The inspect-before-migrate companion of scan_segments."""
    smoosh = SmooshedFiles(path)
    try:
        if _segment_version(smoosh) == 8:
            return _v8_metadata(smoosh)
        _check_version(smoosh)
        info = _read_index_drd(smoosh)
        meta = info.get("metadata") or {}
        columns: dict[str, dict] = {}
        n_rows = None
        for col in ["__time"] + info["columns"]:
            if col not in smoosh.entries:
                columns[col] = {"type": "STRING", "size": 0,
                                "cardinality": 0, "null_only": True}
                continue
            chunk, start, end = smoosh.entries[col]
            buf = _Buf(smoosh.prefix(col, 4))
            desc_len = buf.i32()
            head = smoosh.prefix(col, 4 + desc_len + 64)
            desc = json.loads(bytes(head[4:4 + desc_len])
                              .decode("utf-8"))
            entry = {"type": desc.get("valueType"),
                     "size": end - start,
                     "hasMultipleValues":
                         bool(desc.get("hasMultipleValues"))}
            part = (desc.get("parts") or [{}])[0]
            if part.get("type") == "stringDictionary":
                # dictionary GI sits right after version+flags: peek
                # its totalSize from a tiny prefix, then read ONLY the
                # dictionary region — never the (potentially hundreds
                # of MB) id/bitmap regions behind it (r16 review)
                b = _Buf(head, 4 + desc_len)
                v = b.u8()
                if v >= 0x2:
                    b.i32()  # flags
                dict_start = b.pos
                gi_version = b.u8()
                # allowReverseLookup==1 iff the dictionary is sorted
                # (GenericIndexed.java writes it only for sorted
                # writers); first/last entries are min/max ONLY then
                # (r17 advice — an unsorted dictionary would report
                # wrong bounds)
                sorted_dict = b.u8() == 0x1
                if gi_version == 0x2:
                    # v2 dictionary meta is tiny ([ver][flag][int
                    # bagPower][int n][prefixed name]); read the name
                    # length first, then EXACTLY the meta — a huge or
                    # corrupt length surfaces as the v2 reader's own
                    # loud, never a silent truncation (r17 review #3)
                    head14 = smoosh.prefix(col, dict_start + 14)
                    name_len = struct.unpack_from(
                        ">i", head14, dict_start + 10)[0]
                    if not 0 <= name_len <= 1 << 20:
                        raise DruidSegmentError(
                            f"column {col!r}: implausible v2 "
                            f"dictionary name length {name_len}")
                    blob = smoosh.prefix(col,
                                         dict_start + 14 + name_len)
                    b = _Buf(blob, dict_start)
                    dictionary = read_generic_indexed(b, smoosh)
                else:
                    gi_total = b.i32()
                    blob = smoosh.prefix(col,
                                         dict_start + 6 + gi_total)
                    b = _Buf(blob, dict_start)
                    dictionary = read_generic_indexed(b)
                entry["cardinality"] = len(dictionary)
                entry["dictionary_bytes"] = b.pos - dict_start
                non_null = [d for d in dictionary if d is not None]
                if non_null and sorted_dict:
                    entry["minValue"] = non_null[0].decode("utf-8")
                    entry["maxValue"] = non_null[-1].decode("utf-8")
            elif part.get("type") == "complex":
                entry["complexType"] = part.get("typeName")
            elif desc.get("valueType") in ("LONG", "FLOAT", "DOUBLE"):
                # numeric header: totalSize = row count (longV2 has a
                # 4-byte offset first)
                b = _Buf(head, 4 + desc_len)
                if part.get("type", "").endswith("V2"):
                    b.i32()
                b.u8()  # version
                entry["rows"] = b.i32()
                if col == "__time":
                    n_rows = entry["rows"]
            columns[col] = entry
        return {
            "rows": n_rows,
            "interval_start_ms": info["interval_start_ms"],
            "interval_end_ms": info["interval_end_ms"],
            "dimensions": info["dimensions"],
            "bitmap_type": info["bitmap_type"],
            "columns": columns,
            "aggregators": meta.get("aggregators"),
            "rollup": meta.get("rollup"),
            "queryGranularity": meta.get("queryGranularity"),
        }
    finally:
        smoosh.close()


def segment_schema(path: str):
    """Spark schema for a segment — a METADATA-ONLY driver peek: only
    version.bin, meta.smoosh, index.drd, and each column's
    4-byte-len descriptor JSON are parsed; no chunk is ever
    decompressed. On a DIRECTORY the reads are seek+range, so the
    peek costs the same on a 3-row fixture and a 5M-row historical
    segment; on a zip, DEFLATE forces streaming the chunk member —
    still in memory, never extracted to disk."""
    from pyspark.sql import types as T

    smoosh = SmooshedFiles(path)
    try:
        if _segment_version(smoosh) == 8:
            return _v8_schema(smoosh)
        _check_version(smoosh)
        info = _read_index_drd(smoosh)
        info["complex"] = {}
        fields = [T.StructField("__time", T.TimestampType())]
        for col in info["columns"]:
            if col == "__time":
                continue
            if col not in smoosh.entries:  # null-only restored column
                fields.append(T.StructField(col, T.StringType()))
                continue
            buf = _Buf(smoosh.prefix(col, 4))
            desc_len = buf.i32()
            desc = json.loads(
                bytes(smoosh.prefix(col, 4 + desc_len)[4:])
                .decode("utf-8"))
            vtype = desc.get("valueType")
            if vtype == "STRING":
                dt = (T.ArrayType(T.StringType())
                      if desc.get("hasMultipleValues")
                      else T.StringType())
            elif vtype == "LONG":
                dt = T.LongType()
            elif vtype in ("FLOAT", "DOUBLE"):
                dt = T.DoubleType()
            elif vtype == "COMPLEX":
                dt = T.BinaryType()
                for part in desc.get("parts", []):
                    if part.get("type") == "complex":
                        info["complex"][col] = part.get("typeName")
            else:
                dt = T.StringType()
            fields.append(T.StructField(col, dt))
        return T.StructType(fields), info
    finally:
        smoosh.close()


def _v8_peek(smoosh: "SmooshedFiles"):
    """(dims, mets with typeName, interval string) from the tiny v8
    headers — index.drd plus each metric member's prefix; no chunk
    is decompressed."""
    buf = _Buf(smoosh.file("index.drd"))
    if buf.u8() != 0x8:
        raise DruidSegmentError("not a v8 index.drd")
    dims = [d.decode("utf-8") for d in read_generic_indexed(buf)
            if d is not None]
    mets = [m.decode("utf-8") for m in read_generic_indexed(buf)
            if m is not None]
    interval_str = _read_prefixed_string(buf)
    met_types = {}
    for met in mets:
        for o in ("LITTLE_ENDIAN", "BIG_ENDIAN"):
            name = f"met_{met}_{o}.drd"
            if name in smoosh.entries:
                head = smoosh.prefix(name, 256)
                b = _Buf(head)
                b.u8()
                _read_prefixed_string(b)  # metric name
                met_types[met] = _read_prefixed_string(b)
                break
    return dims, mets, met_types, interval_str


def _v8_metadata(smoosh: "SmooshedFiles") -> dict:
    """segment_metadata analyses for a v8 container — header peeks
    only: rows from the time envelope, per-dim cardinality from the
    dictionary GI header, sizes from meta.smoosh ranges."""
    dims, mets, met_types, interval_str = _v8_peek(smoosh)
    start_ms, end_ms = parse_interval(interval_str)
    time_name = next(
        (n for n in ("time_LITTLE_ENDIAN.drd", "time_BIG_ENDIAN.drd")
         if n in smoosh.entries), None)
    n_rows = None
    if time_name:
        head = smoosh.prefix(time_name, 16)
        n_rows = struct.unpack_from(">i", head, 1)[0]
        chunk, start, end = smoosh.entries[time_name]
        columns = {"__time": {"type": "LONG", "size": end - start,
                              "rows": n_rows,
                              "hasMultipleValues": False}}
    else:
        columns = {}
    for d in dims:
        name = f"dim_{d}.drd"
        if name not in smoosh.entries:
            columns[d] = {"type": "STRING", "size": 0,
                          "cardinality": 0, "null_only": True}
            continue
        chunk, start, end = smoosh.entries[name]
        # [prefixed name][GI dict...]: peek the GI header for
        # cardinality without walking elements
        head = smoosh.prefix(name, 4 + len(d.encode()) + 16)
        b = _Buf(head)
        _read_prefixed_string(b)
        gi_ver = b.u8()
        sorted_dict = b.u8() == 0x1
        card = None
        if gi_ver == 0x1:
            b.i32()  # totalSize
            card = b.i32()
        entry = {"type": "STRING", "size": end - start,
                 "hasMultipleValues": True}
        if card is not None:
            entry["cardinality"] = card
        columns[d] = entry
    for m in mets:
        for o in ("LITTLE_ENDIAN", "BIG_ENDIAN"):
            name = f"met_{m}_{o}.drd"
            if name in smoosh.entries:
                chunk, start, end = smoosh.entries[name]
                t = met_types.get(m, "complex")
                entry = {"size": end - start,
                         "hasMultipleValues": False}
                if t == "float":
                    entry["type"] = "FLOAT"
                else:
                    entry["type"] = "COMPLEX"
                    entry["complexType"] = t
                columns[m] = entry
                break
    return {
        "rows": n_rows, "interval_start_ms": start_ms,
        "interval_end_ms": end_ms, "dimensions": dims,
        "bitmap_type": "concise", "columns": columns,
        "aggregators": None, "rollup": None,
        "queryGranularity": None, "v8": True,
    }


def _v8_schema(smoosh: "SmooshedFiles"):
    from pyspark.sql import types as T

    dims, mets, met_types, _ = _v8_peek(smoosh)
    info = {"complex": {}, "columns": dims + mets,
            "dimensions": dims, "v8": True}
    fields = [T.StructField("__time", T.TimestampType())]
    for d in dims:
        # v8 dims are always the multi-value layout
        fields.append(T.StructField(d, T.ArrayType(T.StringType())))
    for m in mets:
        t = met_types.get(m, "complex")
        if t == "float":
            fields.append(T.StructField(m, T.DoubleType()))
        else:
            fields.append(T.StructField(m, T.BinaryType()))
            info["complex"][m] = t
    return T.StructType(fields), info


def _first_segment(path: str, dim_filter: dict | None = None,
                   interval=None, columns=None):
    return read_segment_dir(path, dim_filter=dim_filter,
                            interval=interval, columns=columns)


def scan_segments(spark, paths: list[str],
                  dim_filter: dict | None = None, interval=None,
                  columns=None):
    """Many segment containers → ONE Spark DataFrame: the migration
    scan. Parallelism unit = one SEGMENT per task (mapInPandas over
    the path list) — exactly Druid's own processing granularity, so
    a historical tier's worth of containers fans out across the
    cluster; each task streams one container's rows as an Arrow
    batch. Schema comes from the first container (driver peek);
    containers must be schema-compatible (same datasource), like
    Druid requires.

    ``dim_filter`` pushes the selector/in-indexable part of a Druid
    DimFilter into each task's container read (bitmap row mask +
    chunk skipping — see read_segment_dir); the emitted rows may be
    a SUPERSET of the filter's matches, so callers must still apply
    the full filter on the DataFrame (ingest/batch.py does)."""
    from pyspark.sql import functions as F  # noqa: F401

    if not paths:
        raise DruidSegmentError("scan_segments: empty path list")
    schema, info = segment_schema(paths[0])
    complex_cols = set(info["complex"])
    if columns is not None:
        from pyspark.sql import types as T

        keep = set(columns) | {"__time"}
        schema = T.StructType(
            [f for f in schema.fields if f.name in keep])
    col_order = [f.name for f in schema.fields]

    def read_all(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                seg, seg_info = _first_segment(p, dim_filter,
                                               interval, columns)
                out = pd.DataFrame()
                for c in col_order:
                    if c == "__time":
                        # Druid __time is UTC epoch ms; utc=True makes
                        # the instant explicit so a session pinned to
                        # any other spark.sql.session.timeZone cannot
                        # silently shift it (tz-naive pandas datetimes
                        # are interpreted in the SESSION zone)
                        out[c] = pd.to_datetime(seg["__time"],
                                                unit="ms", utc=True)
                    elif c not in seg.columns:
                        out[c] = None
                    elif c in complex_cols:
                        out[c] = seg[c].map(
                            lambda b: None if b is None else bytes(b))
                    else:
                        out[c] = seg[c]
                yield out

    pdf = spark.createDataFrame([(p,) for p in paths], "path string") \
        .repartition(min(len(paths), 256))
    return pdf.mapInPandas(read_all, schema)
