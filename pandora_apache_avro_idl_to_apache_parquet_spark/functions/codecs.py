"""Lightweight columnar compression codecs (numpy kernels).

Per the north rule these generalize the reference's single static codec
(Snappy, ``/root/reference/.../Pandora/Apache/Parquet.fs:1374``) into a per-chunk
candidate set with auto-selection:

* int32 streams: PLAIN, BITPACK, FOR (frame-of-reference + bit-packed residuals),
  RLE (run values + run lengths, each FOR-packed), DICT (sorted dictionary +
  bit-packed codes).
* byte/string streams: STR_PLAIN, STR_DICT, STR_FSST (FSST-style symbol-table
  compression per Boncz/Neumann/Leis, VLDB 2020 — a pure-Python/numpy "FSST-lite"
  that is bit-identical on round-trip; see PAPERS.md).

Every encoded payload is **self-describing**: a fixed header (magic, version,
codec id, dtype, value count) followed by codec-specific sections, so a chunk can
be decoded with nothing but its payload bytes — the property the reference gets
from one-Parquet-file-per-table (``Parquet.fs:1357-1391``) we get per column chunk.

All kernels operate on whole numpy arrays; no per-row Python.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"PC"
VERSION = 4  # v4: +STR_ZLIB general-purpose entropy codec for natural text

# codec ids
PLAIN = 0
BITPACK = 1
FOR = 2
RLE = 3
DICT = 4
GROUPED = 5
DELTA = 6
ALP = 7
GCD = 8
STR_PLAIN = 10
STR_DICT = 11
STR_FSST = 12
STR_ZLIB = 13  # DEFLATE over the blob: the entropy-codec fallback FSST's
# substring table cannot reach on natural text (FSST ~2x, DEFLATE ~3-4x)

DT_INT32 = 0
DT_BYTES = 1
DT_INT64 = 2
DT_FLOAT32 = 3  # float32 bit patterns through the int32 codec family
DT_FLOAT64 = 4  # float64 bit patterns through the int64 codec family

INT_CODECS = (PLAIN, BITPACK, FOR, RLE, DICT, DELTA)
STR_CODECS = (STR_PLAIN, STR_DICT, STR_FSST, STR_ZLIB)

CODEC_NAMES = {
    PLAIN: "plain",
    BITPACK: "bitpack",
    FOR: "for",
    RLE: "rle",
    DICT: "dict",
    GROUPED: "grouped",
    DELTA: "delta",
    ALP: "alp",
    GCD: "gcd",
    STR_PLAIN: "plain",
    STR_DICT: "dict",
    STR_FSST: "fsst",
    STR_ZLIB: "zlib",
}
_HDR = struct.Struct("<2sBBBQ")  # magic, version, codec, dtype, n_values


def _header(codec: int, dtype: int, n: int) -> bytes:
    return _HDR.pack(MAGIC, VERSION, codec, dtype, n)


def _read_header(buf: bytes) -> tuple[int, int, int, int]:
    magic, ver, codec, dtype, n = _HDR.unpack_from(buf, 0)
    if magic != MAGIC or ver != VERSION:
        raise ValueError("bad payload header")
    return codec, dtype, n, _HDR.size


# ---------------------------------------------------------------- bit packing

def pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack non-negative uint32 values at exactly ``width`` bits each, in a
    plane-major (bitsliced) layout: ``width // 8`` contiguous byte planes
    followed by ``width % 8`` packbits-compressed bit planes. Exact-width
    compression at vectorized-contiguous speed — every pass is a whole-array
    shift/mask into a preallocated plane, no per-value bit matrix.
    width==0 encodes a constant-0 stream as zero bytes."""
    if width == 0 or len(vals) == 0:
        return b""
    v = vals.astype(np.uint32, copy=False)
    n = len(v)
    n_byte_planes, rem = divmod(width, 8)
    parts = []
    if n_byte_planes:
        bplanes = np.empty((n_byte_planes, n), np.uint8)
        for p in range(n_byte_planes):
            np.bitwise_and(v >> np.uint32(8 * p), np.uint32(0xFF),
                           out=bplanes[p], casting="unsafe")
        parts.append(bplanes.tobytes())
    if rem:
        bits = np.empty((rem, n), np.uint8)
        base = np.uint32(8 * n_byte_planes)
        for j in range(rem):
            np.bitwise_and(v >> (base + np.uint32(j)), np.uint32(1),
                           out=bits[j], casting="unsafe")
        parts.append(np.packbits(bits, axis=1).tobytes())
    return b"".join(parts)


def unpack_bits(buf: bytes, n: int, width: int) -> np.ndarray:
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint32)
    raw = np.frombuffer(buf, dtype=np.uint8)
    n_byte_planes, rem = divmod(width, 8)
    out = np.zeros(n, dtype=np.uint32)
    for p in range(n_byte_planes):
        out |= raw[p * n : (p + 1) * n].astype(np.uint32) << np.uint32(8 * p)
    if rem:
        nb = (n + 7) // 8
        planes = np.unpackbits(
            raw[n_byte_planes * n :].reshape(rem, nb), axis=1, count=n
        )
        base = np.uint32(8 * n_byte_planes)
        for j in range(rem):
            out |= planes[j].astype(np.uint32) << (base + np.uint32(j))
    return out


def _bit_width(max_val: int) -> int:
    return int(max_val).bit_length()


def pack_bits64(vals: np.ndarray, width: int) -> bytes:
    """64-bit-wide variant of :func:`pack_bits` (same plane-major layout,
    uint64 lanes) for the int64/float64 codec family."""
    if width == 0 or len(vals) == 0:
        return b""
    v = vals.astype(np.uint64, copy=False)
    n = len(v)
    n_byte_planes, rem = divmod(width, 8)
    parts = []
    if n_byte_planes:
        bplanes = np.empty((n_byte_planes, n), np.uint8)
        for p in range(n_byte_planes):
            np.bitwise_and(v >> np.uint64(8 * p), np.uint64(0xFF),
                           out=bplanes[p], casting="unsafe")
        parts.append(bplanes.tobytes())
    if rem:
        bits = np.empty((rem, n), np.uint8)
        base = np.uint64(8 * n_byte_planes)
        for j in range(rem):
            np.bitwise_and(v >> (base + np.uint64(j)), np.uint64(1),
                           out=bits[j], casting="unsafe")
        parts.append(np.packbits(bits, axis=1).tobytes())
    return b"".join(parts)


def unpack_bits64(buf: bytes, n: int, width: int) -> np.ndarray:
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    n_byte_planes, rem = divmod(width, 8)
    out = np.zeros(n, dtype=np.uint64)
    for p in range(n_byte_planes):
        out |= raw[p * n : (p + 1) * n].astype(np.uint64) << np.uint64(8 * p)
    if rem:
        nb = (n + 7) // 8
        planes = np.unpackbits(
            raw[n_byte_planes * n :].reshape(rem, nb), axis=1, count=n
        )
        base = np.uint64(8 * n_byte_planes)
        for j in range(rem):
            out |= planes[j].astype(np.uint64) << (base + np.uint64(j))
    return out


# ------------------------------------------------------------- int32 codecs
# Each _enc returns the codec *body* (no header) or None if inapplicable.

def _enc_plain_i32(a: np.ndarray) -> bytes:
    return a.astype("<i4", copy=False).tobytes()


def _dec_plain_i32(body: bytes, n: int) -> np.ndarray:
    return np.frombuffer(body, dtype="<i4", count=n).copy()


def _enc_bitpack_i32(a: np.ndarray) -> bytes | None:
    """Bit-pack raw values; applicable only to non-negative streams."""
    if len(a) == 0:
        return struct.pack("<B", 0)
    lo = int(a.min())
    if lo < 0:
        return None
    w = _bit_width(int(a.max()))
    return struct.pack("<B", w) + pack_bits(a.astype(np.int64).astype(np.uint32), w)


def _dec_bitpack_i32(body: bytes, n: int) -> np.ndarray:
    (w,) = struct.unpack_from("<B", body, 0)
    return unpack_bits(body[1:], n, w).astype(np.int32)


def _enc_for_i32(a: np.ndarray) -> bytes:
    """Frame-of-reference: store min as i64 base, bit-pack residuals."""
    if len(a) == 0:
        return struct.pack("<qB", 0, 0)
    a64 = a.astype(np.int64, copy=False)
    base = int(a64.min())
    resid = (a64 - base).astype(np.uint64)
    w = _bit_width(int(resid.max()))
    return struct.pack("<qB", base, w) + pack_bits(resid.astype(np.uint32), w)


def _dec_for_i32(body: bytes, n: int) -> np.ndarray:
    base, w = struct.unpack_from("<qB", body, 0)
    resid = unpack_bits(body[9:], n, w)
    return (resid.astype(np.int64) + base).astype(np.int32)


def _rle_split(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = len(a)
    if n == 0:
        return a[:0], np.zeros(0, dtype=np.int64)
    change = np.flatnonzero(np.diff(a)) + 1
    starts = np.concatenate(([0], change))
    vals = a[starts]
    lens = np.diff(np.concatenate((starts, [n])))
    return vals, lens


def _enc_rle_i32(a: np.ndarray) -> bytes:
    vals, lens = _rle_split(a)
    vb = _enc_for_i32(vals.astype(np.int32, copy=False))
    lb = _enc_for_i32((lens - 1).astype(np.int32)) if len(lens) else _enc_for_i32(np.zeros(0, np.int32))
    return struct.pack("<QQ", len(vals), len(vb)) + vb + lb


def _dec_rle_i32(body: bytes, n: int) -> np.ndarray:
    n_runs, vlen = struct.unpack_from("<QQ", body, 0)
    off = 16
    vals = _dec_for_i32(body[off : off + vlen], n_runs)
    lens = _dec_for_i32(body[off + vlen :], n_runs).astype(np.int64) + 1
    return np.repeat(vals, lens)


def _enc_dict_i32(a: np.ndarray) -> bytes:
    # hash-based factorize (O(n)) beats np.unique's O(n log n) sort; only the
    # (small) dictionary is sorted, codes are remapped through its rank
    import pandas as pd

    codes, uniq = pd.factorize(a, sort=False)
    uniq = np.asarray(uniq)
    order = np.argsort(uniq, kind="stable")
    rank = np.empty(len(order), dtype=np.uint32)
    rank[order] = np.arange(len(order), dtype=np.uint32)
    inv = rank[codes]
    uniq = uniq[order]
    ub = _enc_for_i32(uniq.astype(np.int32, copy=False))
    w = _bit_width(max(len(uniq) - 1, 0))
    codes_packed = pack_bits(inv, w)
    return struct.pack("<QQB", len(uniq), len(ub), w) + ub + codes_packed


def _dec_dict_i32(body: bytes, n: int) -> np.ndarray:
    n_dict, ulen, w = struct.unpack_from("<QQB", body, 0)
    off = 17
    uniq = _dec_for_i32(body[off : off + ulen], n_dict)
    inv = unpack_bits(body[off + ulen :], n, w)
    return uniq[inv] if n else uniq[:0]


def _enc_delta_i32(a: np.ndarray) -> bytes:
    """Delta: first value as i64, then FOR-packed consecutive differences —
    wins on sorted/near-monotone streams (offsets, row ids) where raw FOR
    still pays the full value range."""
    if len(a) == 0:
        return struct.pack("<q", 0) + _enc_for_i32(a)
    a64 = a.astype(np.int64, copy=False)
    diffs = np.diff(a64)
    if len(diffs) and (diffs.max() > 2**31 - 1 or diffs.min() < -(2**31)):
        return None  # diff overflow (int32 extremes); other codecs cover this
    return struct.pack("<q", int(a64[0])) + _enc_for_i32(diffs.astype(np.int32))


def _dec_delta_i32(body: bytes, n: int) -> np.ndarray:
    (first,) = struct.unpack_from("<q", body, 0)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    diffs = _dec_for_i32(body[8:], n - 1).astype(np.int64)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    np.cumsum(diffs, out=out[1:]) if n > 1 else None
    out[1:] += first
    return out.astype(np.int32)


_INT_ENC = {PLAIN: _enc_plain_i32, BITPACK: _enc_bitpack_i32, FOR: _enc_for_i32,
            RLE: _enc_rle_i32, DICT: _enc_dict_i32, DELTA: _enc_delta_i32}
_INT_DEC = {PLAIN: _dec_plain_i32, BITPACK: _dec_bitpack_i32, FOR: _dec_for_i32,
            RLE: _dec_rle_i32, DICT: _dec_dict_i32, DELTA: _dec_delta_i32}


def encode_int32(a: np.ndarray, codec: int) -> bytes | None:
    """Encode an int32 array with the given codec; None if inapplicable."""
    a = np.asarray(a, dtype=np.int32)
    body = _INT_ENC[codec](a)
    if body is None:
        return None
    return _header(codec, DT_INT32, len(a)) + body


def decode_int32(buf: bytes) -> np.ndarray:
    codec, dtype, n, off = _read_header(buf)
    if dtype != DT_INT32:
        raise ValueError("not an int32 payload")
    return np.asarray(_INT_DEC[codec](buf[off:], n), dtype=np.int32)


# ------------------------------------------------------------- int64 codecs
# Same codec family as int32, 64-bit lanes: the reference's LONG /
# TIMESTAMP_MS / TIME_MS physical types (``Parquet.fs:52-110, 534-621``) all
# land here; float64 rides the same kernels as bit patterns (DT_FLOAT64).

def _u64(x: int) -> np.uint64:
    return np.array([x], dtype=np.int64).view(np.uint64)[0]


def _enc_plain_i64(a: np.ndarray) -> bytes:
    return a.astype("<i8", copy=False).tobytes()


def _dec_plain_i64(body: bytes, n: int) -> np.ndarray:
    return np.frombuffer(body, dtype="<i8", count=n).copy()


def _enc_bitpack_i64(a: np.ndarray) -> bytes | None:
    if len(a) == 0:
        return struct.pack("<B", 0)
    lo = int(a.min())
    if lo < 0:
        return None
    w = _bit_width(int(a.max()))
    return struct.pack("<B", w) + pack_bits64(a.view(np.uint64), w)


def _dec_bitpack_i64(body: bytes, n: int) -> np.ndarray:
    (w,) = struct.unpack_from("<B", body, 0)
    return unpack_bits64(body[1:], n, w).view(np.int64).copy()


def _enc_for_i64(a: np.ndarray) -> bytes:
    """FOR with mod-2^64 residuals: (a - min) in uint64 wraparound arithmetic
    is exact for any int64 range (max - min always fits in uint64)."""
    if len(a) == 0:
        return struct.pack("<qB", 0, 0)
    base = int(a.min())
    resid = a.view(np.uint64) - _u64(base)
    w = _bit_width(int(resid.max()))
    return struct.pack("<qB", base, w) + pack_bits64(resid, w)


def _dec_for_i64(body: bytes, n: int) -> np.ndarray:
    base, w = struct.unpack_from("<qB", body, 0)
    resid = unpack_bits64(body[9:], n, w)
    return (resid + _u64(base)).view(np.int64).copy()


def _enc_rle_i64(a: np.ndarray) -> bytes:
    vals, lens = _rle_split(a)
    vb = _enc_for_i64(vals.astype(np.int64, copy=False))
    lb = _enc_for_i64((lens - 1).astype(np.int64)) if len(lens) else _enc_for_i64(np.zeros(0, np.int64))
    return struct.pack("<QQ", len(vals), len(vb)) + vb + lb


def _dec_rle_i64(body: bytes, n: int) -> np.ndarray:
    n_runs, vlen = struct.unpack_from("<QQ", body, 0)
    off = 16
    vals = _dec_for_i64(body[off : off + vlen], n_runs)
    lens = _dec_for_i64(body[off + vlen :], n_runs) + 1
    return np.repeat(vals, lens)


def _enc_dict_i64(a: np.ndarray) -> bytes:
    import pandas as pd

    codes, uniq = pd.factorize(a, sort=False)
    uniq = np.asarray(uniq)
    order = np.argsort(uniq, kind="stable")
    rank = np.empty(len(order), dtype=np.uint32)
    rank[order] = np.arange(len(order), dtype=np.uint32)
    inv = rank[codes]
    uniq = uniq[order]
    ub = _enc_for_i64(uniq.astype(np.int64, copy=False))
    w = _bit_width(max(len(uniq) - 1, 0))
    codes_packed = pack_bits(inv, w)
    return struct.pack("<QQB", len(uniq), len(ub), w) + ub + codes_packed


def _dec_dict_i64(body: bytes, n: int) -> np.ndarray:
    n_dict, ulen, w = struct.unpack_from("<QQB", body, 0)
    off = 17
    uniq = _dec_for_i64(body[off : off + ulen], n_dict)
    inv = unpack_bits(body[off + ulen :], n, w)
    return uniq[inv] if n else uniq[:0]


def _enc_delta_i64(a: np.ndarray) -> bytes:
    """Delta with mod-2^64 diffs: wraparound on both encode and decode keeps
    the round-trip exact for any int64 stream (no overflow bail needed)."""
    if len(a) == 0:
        return struct.pack("<q", 0) + _enc_for_i64(a)
    diffs = (a.view(np.uint64)[1:] - a.view(np.uint64)[:-1]).view(np.int64)
    return struct.pack("<q", int(a[0])) + _enc_for_i64(diffs)


def _dec_delta_i64(body: bytes, n: int) -> np.ndarray:
    (first,) = struct.unpack_from("<q", body, 0)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    diffs = _dec_for_i64(body[8:], n - 1).view(np.uint64)
    out = np.empty(n, dtype=np.uint64)
    out[0] = _u64(first)
    if n > 1:
        np.cumsum(diffs, out=out[1:])
        out[1:] += _u64(first)
    return out.view(np.int64).copy()


def _enc_gcd_i64(a: np.ndarray) -> bytes | None:
    """GCD frame-of-reference: quantized int64 streams (epoch timestamps at
    day/second/ms granularity, money in micros, anything on a stride) carry a
    large common divisor in (a - min); dividing it out shrinks the bit width
    by log2(g). Layout: base i64, g i64, FOR-packed (a-base)/g. Inapplicable
    when g <= 1 (plain FOR already optimal) — the per-chunk candidate search
    then simply skips it."""
    if len(a) == 0:
        return None
    base = int(a.min())
    resid = a.view(np.uint64) - _u64(base)
    nz = resid[resid != 0]
    if len(nz) == 0:
        return None  # constant stream: RLE/FOR cover it
    g = int(np.gcd.reduce(nz))
    if g <= 1 or g > 2**63 - 1:
        # g beyond i64 (possible: uint64 residuals, e.g. one huge residual
        # IS the gcd) won't fit the signed header word; such streams have
        # <=2 distinct nonzero residuals and RLE/DICT already crush them
        return None
    q = (resid // np.uint64(g)).view(np.int64)
    return struct.pack("<qq", base, g) + _enc_for_i64(q)


def _dec_gcd_i64(body: bytes, n: int) -> np.ndarray:
    base, g = struct.unpack_from("<qq", body, 0)
    q = _dec_for_i64(body[16:], n).view(np.uint64)
    return (q * _u64(g) + _u64(base)).view(np.int64).copy()


_INT64_ENC = {PLAIN: _enc_plain_i64, BITPACK: _enc_bitpack_i64, FOR: _enc_for_i64,
              RLE: _enc_rle_i64, DICT: _enc_dict_i64, DELTA: _enc_delta_i64,
              GCD: _enc_gcd_i64}
_INT64_DEC = {PLAIN: _dec_plain_i64, BITPACK: _dec_bitpack_i64, FOR: _dec_for_i64,
              RLE: _dec_rle_i64, DICT: _dec_dict_i64, DELTA: _dec_delta_i64,
              GCD: _dec_gcd_i64}


def encode_int64(a: np.ndarray, codec: int) -> bytes | None:
    a = np.ascontiguousarray(a, dtype=np.int64)
    body = _INT64_ENC[codec](a)
    if body is None:
        return None
    return _header(codec, DT_INT64, len(a)) + body


def decode_int64(buf: bytes) -> np.ndarray:
    codec, dtype, n, off = _read_header(buf)
    if dtype != DT_INT64:
        raise ValueError("not an int64 payload")
    return np.asarray(_INT64_DEC[codec](buf[off:], n), dtype=np.int64)


# ----------------------------------------------------- ALP (decimal floats)
# Most real-world float columns are decimals in disguise (prices, rates,
# sensor readings): v = k / 10^e for small e. ALP (Afroozeh & Boncz,
# "ALP: Adaptive Lossless floating-Point compression", SIGMOD 2024; DuckDB's
# float codec) encodes round(v * 10^e) through the integer codec family when
# that round-trips bit-exactly. This implementation searches the smallest
# working exponent per chunk and verifies bit-identity with the EXACT decode
# expression (ints.astype(f) / f(10^e)), so -0.0, NaN, inf, or any value the
# scheme cannot represent simply makes the codec inapplicable for the chunk
# (the cost model then falls back to the bit-pattern codecs) — correctness
# never depends on float semantics.

_ALP_MAX_E = {4: 14, 8: 18}  # itemsize -> max exponent tried
_ALP_BOUND = {4: float(1 << 24), 8: float(1 << 53)}  # exact-int range


def _enc_alp(a: np.ndarray) -> bytes | None:
    """Codec body for a float32/float64 array, or None if inapplicable."""
    f = a.dtype.type
    if len(a) == 0:
        nested = encode_typed(np.zeros(0, np.int32 if a.itemsize == 4 else np.int64), PLAIN)
        return struct.pack("<BQ", 0, len(nested)) + nested
    if not np.isfinite(a).all():
        return None
    bound = _ALP_BOUND[a.itemsize]
    bits = a.view(np.int32 if a.itemsize == 4 else np.int64)
    for e in range(_ALP_MAX_E[a.itemsize] + 1):
        scale = 10.0 ** e
        scaled = np.round(a.astype(np.float64) * scale)
        if np.abs(scaled).max() > bound:
            return None  # larger e only grows further
        ints = scaled.astype(np.int64)
        recon = (ints.astype(np.float64) / scale).astype(a.dtype)
        if np.array_equal(recon.view(bits.dtype), bits):
            lane = ints.astype(np.int32) if a.itemsize == 4 else ints
            from ..plans.cost import select_typed_codec

            nested = select_typed_codec(lane)
            return struct.pack("<BQ", e, len(nested)) + nested
    return None


def _dec_alp(body: bytes, dtype: int) -> np.ndarray:
    e, nlen = struct.unpack_from("<BQ", body, 0)
    ints = decode_typed(body[9 : 9 + nlen])
    out64 = ints.astype(np.float64) / (10.0 ** e)
    return out64.astype(np.float32) if dtype == DT_FLOAT32 else out64


# ------------------------------------------------------- generic typed API
# Floats ride the int kernels as raw bit patterns (views, zero-copy): DICT /
# RLE / FOR work on any bit pattern, NaN payloads and -0.0 round-trip
# bit-identically because equality never touches float semantics. ALP is the
# exception: it re-expresses decimal-valued floats as scaled integers.

def encode_typed(a: np.ndarray, codec: int) -> bytes | None:
    """Encode a 1-D numpy array of int32/int64/float32/float64 with the given
    int-family codec; None if inapplicable."""
    a = np.ascontiguousarray(a)
    if a.dtype == np.int32:
        return encode_int32(a, codec)
    if a.dtype == np.int64:
        return encode_int64(a, codec)
    if a.dtype == np.float32:
        if codec == ALP:
            body = _enc_alp(a)
            return None if body is None else _header(ALP, DT_FLOAT32, len(a)) + body
        body = _INT_ENC[codec](a.view(np.int32))
        return None if body is None else _header(codec, DT_FLOAT32, len(a)) + body
    if a.dtype == np.float64:
        if codec == ALP:
            body = _enc_alp(a)
            return None if body is None else _header(ALP, DT_FLOAT64, len(a)) + body
        body = _INT64_ENC[codec](a.view(np.int64))
        return None if body is None else _header(codec, DT_FLOAT64, len(a)) + body
    raise ValueError(f"unsupported dtype {a.dtype}")


def decode_typed(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_typed`: dtype comes from the header."""
    codec, dtype, n, off = _read_header(buf)
    if codec == ALP:
        if dtype not in (DT_FLOAT32, DT_FLOAT64):
            raise ValueError("ALP payload must be float-typed")
        return _dec_alp(buf[off:], dtype)
    if dtype == DT_INT32:
        return np.asarray(_INT_DEC[codec](buf[off:], n), dtype=np.int32)
    if dtype == DT_INT64:
        return np.asarray(_INT64_DEC[codec](buf[off:], n), dtype=np.int64)
    if dtype == DT_FLOAT32:
        return np.asarray(_INT_DEC[codec](buf[off:], n), dtype=np.int32).view(np.float32)
    if dtype == DT_FLOAT64:
        return np.asarray(_INT64_DEC[codec](buf[off:], n), dtype=np.int64).view(np.float64)
    raise ValueError(f"not a typed-array payload (dtype {dtype})")


# ------------------------------------------------------------ string codecs
# String streams are (lengths: int32 array, blob: concatenated utf8 bytes).

def strings_to_blob(values) -> tuple[np.ndarray, bytes]:
    """Vectorized string column -> (lengths, blob); ``values`` is a pandas
    Series / numpy object array of str, or already a pyarrow StringArray."""
    import pyarrow as pa

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    arr = values if isinstance(values, pa.Array) else pa.array(values, type=pa.string())
    if arr.type != pa.string():
        arr = arr.cast(pa.string())
    if arr.null_count:
        raise ValueError("null strings not supported in token-table columns")
    n = len(arr)
    raw_offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                             count=n + 1 + arr.offset)[arr.offset:]
    offs = raw_offs - raw_offs[0]
    data = arr.buffers()[2]
    blob = data.to_pybytes()[raw_offs[0] : raw_offs[-1]] if data is not None else b""
    lengths = np.diff(offs).astype(np.int32)
    return lengths, blob


def blob_to_strings(lengths: np.ndarray, blob: bytes):
    """(lengths, blob) -> pyarrow StringArray (zero-copy reassembly)."""
    import pyarrow as pa

    offs = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offs[1:])
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(offs.tobytes()), pa.py_buffer(blob)
    )


def bytes_to_blob(arr) -> tuple[np.ndarray, bytes]:
    """Variable-length byte column (pyarrow string OR binary array, no nulls)
    -> (lengths, blob). The string/FSST codec family operates on raw byte
    streams, so BinaryType columns ride the same lane as strings — the
    reference's BYTES physical type (``Parquet.fs:59, 563-566``)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.type == pa.string():
        return strings_to_blob(arr)
    if arr.type != pa.binary():
        arr = arr.cast(pa.binary())
    if arr.null_count:
        raise ValueError("null values must be stripped before blob extraction")
    n = len(arr)
    raw_offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                             count=n + 1 + arr.offset)[arr.offset:]
    data = arr.buffers()[2]
    blob = data.to_pybytes()[raw_offs[0] : raw_offs[-1]] if data is not None else b""
    lengths = np.diff(raw_offs - raw_offs[0]).astype(np.int32)
    return lengths, blob


def _enc_str_plain(lengths: np.ndarray, blob: bytes) -> bytes:
    lb = encode_int32(lengths, FOR)
    return struct.pack("<Q", len(lb)) + lb + blob


def _dec_str_plain(body: bytes) -> tuple[np.ndarray, bytes]:
    (llen,) = struct.unpack_from("<Q", body, 0)
    lengths = decode_int32(body[8 : 8 + llen])
    return lengths, body[8 + llen :]


def _enc_str_zlib(lengths: np.ndarray, blob: bytes) -> bytes:
    """DEFLATE the whole blob (lengths ride the usual int stream). The
    general-purpose entropy fallback: wins on natural-language text where
    FSST's 255-symbol substring table saturates; loses on short/categorical
    streams where DICT/FSST exploit structure zlib cannot see — the cost
    model decides per chunk."""
    import zlib

    lb = encode_int32(lengths, FOR)
    return struct.pack("<Q", len(lb)) + lb + zlib.compress(blob, 6)


def _dec_str_zlib(body: bytes) -> tuple[np.ndarray, bytes]:
    import zlib

    (llen,) = struct.unpack_from("<Q", body, 0)
    lengths = decode_int32(body[8 : 8 + llen])
    return lengths, zlib.decompress(body[8 + llen :])


def _enc_str_dict(lengths: np.ndarray, blob: bytes) -> bytes:
    """Dictionary-encode a string stream via pyarrow's C++ dictionary_encode."""
    arr = blob_to_strings(lengths, blob)
    denc = arr.dictionary_encode()
    uniq = denc.dictionary
    inv = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint32)
    ulens, ublob = strings_to_blob(uniq)
    ub = _enc_str_plain(ulens, ublob)
    w = _bit_width(max(len(uniq) - 1, 0))
    codes = pack_bits(inv, w)
    return struct.pack("<QQB", len(uniq), len(ub), w) + ub + codes


def _dec_str_dict(body: bytes, n: int) -> tuple[np.ndarray, bytes]:
    import pyarrow as pa

    n_dict, ulen, w = struct.unpack_from("<QQB", body, 0)
    off = 17
    ulens, ublob = _dec_str_plain(body[off : off + ulen])
    inv = unpack_bits(body[off + ulen :], n, w).astype(np.int64)
    uniq = blob_to_strings(ulens, ublob)
    arr = uniq.take(pa.array(inv))
    return strings_to_blob(arr)


# --- FSST-lite -------------------------------------------------------------
# Codes 192..254 are symbol codes (63 symbols max); byte 255 is the escape
# marker. Arbitrary byte/UTF-8 input is supported via an escape pass: every
# input byte b >= 192 becomes the pair (255, b-128) — the low partner byte
# (64..127) can never collide with a symbol code or the marker — after which
# the escaped stream contains no byte in 192..254 and symbol replacement is a
# clean bijection. Symbols are 2..8 byte substrings mined from a sample of
# the ESCAPED stream; symbol expansion on decode is order-independent
# (single-byte code targets, expansions contain no codes), and un-escaping
# runs last. Mirrors the code-space/escape design of Boncz/Neumann/Leis FSST
# (VLDB 2020) in pure numpy.

_FSST_BASE = 192
_FSST_MAX_SYMS = 63
_FSST_ESC = 255


def _fsst_escape(blob: bytes) -> bytes:
    """b >= 192 -> (255, b-128); output has no byte in [192, 254] and every
    255 is followed by a byte in [64, 127]."""
    v = np.frombuffer(blob, dtype=np.uint8)
    hi = v >= _FSST_BASE
    n_hi = int(hi.sum())
    if n_hi == 0:
        return blob
    start = np.arange(len(v), dtype=np.int64) + (np.cumsum(hi) - hi)
    out = np.empty(len(v) + n_hi, dtype=np.uint8)
    out[start[~hi]] = v[~hi]
    out[start[hi]] = _FSST_ESC
    out[start[hi] + 1] = v[hi] - 128
    return out.tobytes()


def _fsst_unescape(enc: bytes) -> bytes:
    v = np.frombuffer(enc, dtype=np.uint8)
    marks = np.flatnonzero(v == _FSST_ESC)
    if len(marks) == 0:
        return enc
    out = v.copy()
    out[marks + 1] += 128
    keep = np.ones(len(v), dtype=bool)
    keep[marks] = False
    return out[keep].tobytes()


def _fsst_build_table(sample: bytes, max_syms: int = _FSST_MAX_SYMS) -> list[bytes]:
    if not sample:
        return []
    sv = np.frombuffer(sample, dtype=np.uint8)
    syms: list[bytes] = []
    chosen: set[bytes] = set()
    scores: dict[bytes, int] = {}
    n = len(sv)
    sv64 = sv.astype(np.uint64)
    for L in (2, 3, 4, 6, 8):
        if n < L:
            continue
        # pack each length-L window into a uint64 key (big-endian): unique on
        # scalar ints is ~100x faster than on structured void records
        m = n - L + 1
        step = max(1, m // 65536)
        key = np.zeros((m + step - 1) // step, dtype=np.uint64)
        for b in range(L):
            key = (key << np.uint64(8)) | sv64[b : b + m : step]
        uniq, counts = np.unique(key, return_counts=True)
        order = np.argsort(counts)[::-1][:256]
        for k, c in zip(uniq[order], counts[order]):
            gain = (L - 1) * int(c) * step
            if gain > L + 2:
                pat = int(k).to_bytes(L, "big")
                scores[pat] = max(scores.get(pat, 0), gain)
    for pat, _g in sorted(scores.items(), key=lambda kv: -kv[1]):
        if len(syms) >= max_syms:
            break
        if pat not in chosen:
            chosen.add(pat)
            syms.append(pat)
    # longest-first so greedy replace prefers longer matches
    syms.sort(key=len, reverse=True)
    return syms


def fsst_encode_blob(blob: bytes, syms: list[bytes]) -> bytes:
    out = blob
    for i, s in enumerate(syms):
        out = out.replace(s, bytes([_FSST_BASE + i]))
    return out


def fsst_decode_blob(enc: bytes, syms: list[bytes]) -> bytes:
    out = enc
    # decode in reverse order of encoding is unnecessary (symbols contain no
    # code bytes), but keep deterministic order anyway
    for i, s in enumerate(syms):
        out = out.replace(bytes([_FSST_BASE + i]), s)
    return out


def _enc_str_fsst(lengths: np.ndarray, blob: bytes) -> bytes | None:
    escaped = _fsst_escape(blob)
    syms = _fsst_build_table(escaped[: 1 << 16])
    enc = fsst_encode_blob(escaped, syms)
    lb = encode_int32(lengths, FOR)
    tab = struct.pack("<B", len(syms)) + b"".join(struct.pack("<B", len(s)) + s for s in syms)
    return struct.pack("<QQ", len(lb), len(tab)) + lb + tab + enc


def _dec_str_fsst(body: bytes) -> tuple[np.ndarray, bytes]:
    llen, tlen = struct.unpack_from("<QQ", body, 0)
    off = 16
    lengths = decode_int32(body[off : off + llen])
    off += llen
    tab = body[off : off + tlen]
    off += tlen
    nsym = tab[0]
    syms = []
    p = 1
    for _ in range(nsym):
        sl = tab[p]
        syms.append(tab[p + 1 : p + 1 + sl])
        p += 1 + sl
    blob = _fsst_unescape(fsst_decode_blob(body[off:], syms))
    return lengths, blob


def encode_strings(lengths: np.ndarray, blob: bytes, codec: int) -> bytes | None:
    lengths = np.asarray(lengths, dtype=np.int32)
    if codec == STR_PLAIN:
        body = _enc_str_plain(lengths, blob)
    elif codec == STR_DICT:
        body = _enc_str_dict(lengths, blob)
    elif codec == STR_FSST:
        body = _enc_str_fsst(lengths, blob)
    elif codec == STR_ZLIB:
        body = _enc_str_zlib(lengths, blob)
    else:
        raise ValueError(f"unknown string codec {codec}")
    if body is None:
        return None
    return _header(codec, DT_BYTES, len(lengths)) + body


def decode_strings(buf: bytes) -> tuple[np.ndarray, bytes]:
    codec, dtype, n, off = _read_header(buf)
    if dtype != DT_BYTES:
        raise ValueError("not a string payload")
    body = buf[off:]
    if codec == STR_PLAIN:
        return _dec_str_plain(body)
    if codec == STR_DICT:
        return _dec_str_dict(body, n)
    if codec == STR_FSST:
        return _dec_str_fsst(body)
    if codec == STR_ZLIB:
        return _dec_str_zlib(body)
    raise ValueError(f"unknown string codec {codec}")


def payload_codec_name(buf: bytes) -> str:
    codec, _, _, _ = _read_header(buf)
    return CODEC_NAMES[codec]


# --------------------------------------------------- GROUPED cascade codec
# A chunk's flattened values stream mixes rows with very different statistics
# (constant runs next to full-range noise). One codec per 256K-value chunk
# cannot adapt, so GROUPED classifies each ROW by vectorized per-row stats
# (min/max/run-count via np.{minimum,maximum,add}.reduceat), regroups rows into
# codec-homogeneous streams, and auto-selects a codec per group — the per-chunk
# analog of Parquet's adaptive data pages, but aligned to the engine's row
# semantics so each chunk stays independently decodable. Decoding scatters the
# group streams back to original row order with one vectorized gather.
#
# The payload depends on the per-row lengths, which each chunk stores alongside
# it; encode/decode therefore take ``lengths`` explicitly.

def ranges(lengths: np.ndarray) -> np.ndarray:
    """[3,0,2] -> [0,1,2,0,1]: per-item aranges, fully vectorized."""
    l = np.asarray(lengths, dtype=np.int64)
    total = int(l.sum())
    starts = np.cumsum(l) - l
    return np.arange(total, dtype=np.int64) - np.repeat(starts, l)


def _row_groups(values: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Classify rows into codec groups from vectorized per-row stats."""
    l = lengths.astype(np.int64)
    n_rows = len(l)
    gid = np.zeros(n_rows, dtype=np.int32)
    nz = l > 0
    if not nz.any():
        return gid
    starts = (np.cumsum(l) - l)[nz]
    v64 = values.astype(np.int64, copy=False)
    rmin = np.minimum.reduceat(v64, starts)
    rmax = np.maximum.reduceat(v64, starts)
    width = np.ceil(np.log2(rmax - rmin + 1)).astype(np.int64)
    width[rmax == rmin] = 0
    # run count per row: positions where value changes (row-local)
    changes = np.zeros(len(values), dtype=np.int64)
    if len(values) > 1:
        changes[1:] = (np.diff(values) != 0).astype(np.int64)
    changes[starts] = 0
    runs = np.add.reduceat(changes, starts) + 1
    lnz = l[nz]
    # bytes/value estimates: FOR = width/8 (+base), RLE ≈ runs*(width/8+2)/len
    for_bpv = width / 8.0
    rle_bpv = runs * (width / 8.0 + 2.0) / np.maximum(lnz, 1)
    # group id: 0 reserved for empty rows; 1 = RLE-ish; 2+k = FOR width bucket
    buckets = np.minimum((width + 3) // 4, 8).astype(np.int32)  # 0,4,8,...,32 bits
    g = np.where(rle_bpv < for_bpv * 0.6, 1, 2 + buckets)
    gid[nz] = g
    return gid


def encode_int32_grouped(values: np.ndarray, lengths: np.ndarray,
                         gid: np.ndarray | None = None) -> bytes:
    values = np.asarray(values, dtype=np.int32)
    lengths = np.asarray(lengths, dtype=np.int64)
    if gid is None:
        gid = _row_groups(values, lengths)
    uniq = np.unique(gid)
    remap = np.searchsorted(uniq, gid).astype(np.int32)
    n_groups = len(uniq)
    gid_payload = encode_int32(remap, RLE)
    alt = encode_int32(remap, BITPACK)
    if alt is not None and len(alt) < len(gid_payload):
        gid_payload = alt

    perm = np.argsort(remap, kind="stable")
    starts = np.cumsum(lengths) - lengths
    src_idx = np.repeat(starts[perm], lengths[perm]) + ranges(lengths[perm])
    reordered = values[src_idx]
    # group boundaries in the reordered stream
    counts = np.zeros(n_groups, dtype=np.int64)
    np.add.at(counts, remap, lengths)
    ends = np.cumsum(counts)
    parts = []
    from ..plans.cost import select_int_codec

    lo = 0
    for g in range(n_groups):
        seg = reordered[lo : int(ends[g])]
        lo = int(ends[g])
        parts.append(select_int_codec(seg))
    body = struct.pack("<BQ", n_groups, len(gid_payload)) + gid_payload
    for p in parts:
        body += struct.pack("<Q", len(p)) + p
    return _header(GROUPED, DT_INT32, len(values)) + body


def decode_int32_grouped(buf: bytes, lengths: np.ndarray) -> np.ndarray:
    codec, dtype, n, off = _read_header(buf)
    if codec != GROUPED or dtype != DT_INT32:
        raise ValueError("not a grouped payload")
    body = buf[off:]
    n_groups, glen = struct.unpack_from("<BQ", body, 0)
    p = 9
    remap = decode_int32(body[p : p + glen])
    p += glen
    streams = []
    for _ in range(n_groups):
        (plen,) = struct.unpack_from("<Q", body, p)
        p += 8
        streams.append(decode_int32(body[p : p + plen]))
        p += plen
    lengths = np.asarray(lengths, dtype=np.int64)
    perm = np.argsort(remap, kind="stable")
    starts = np.cumsum(lengths) - lengths
    dst_idx = np.repeat(starts[perm], lengths[perm]) + ranges(lengths[perm])
    out = np.empty(n, dtype=np.int32)
    out[dst_idx] = np.concatenate(streams) if streams else np.zeros(0, np.int32)
    return out
