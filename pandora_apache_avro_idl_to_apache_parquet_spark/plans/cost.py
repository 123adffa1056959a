"""Sampled cost-based codec selection.

The reference picks one codec globally and statically (Snappy,
``/root/reference/.../Pandora/Apache/Parquet.fs:1374``). Per the north rule we
instead pick per column chunk: encode a *prefix sample* of the chunk with every
candidate, extrapolate encoded size, take the argmin, then encode the full chunk
with the winner. The chosen codec is recorded in each chunk's ``__codec``
column (and in the payload header) — the same provenance-tag idea as the
reference's ``Transformation`` marks (``Parquet.fs:43-50``), applied to
codecs. One loop selects for every numeric dtype; the dtype only sets the
candidates.

A head sample (not a strided one) is used deliberately: run lengths and local
value locality — what RLE/FOR exploit — survive a prefix but not a stride.
A final guard compares the winner's actual size against PLAIN so a bad
extrapolation can never make a chunk *larger* than uncompressed + header.
"""

from __future__ import annotations

import numpy as np

from ..functions import codecs as C

SAMPLE_VALUES = 4096


def select_typed_codec(a: np.ndarray, sample: int = SAMPLE_VALUES) -> bytes:
    """Auto-select for any supported dtype (int32/int64/float32/float64):
    prefix-sample every candidate, extrapolate, encode with the argmin, with
    a <=PLAIN guard. The dtype sets the candidates: ``INT_CODECS`` for
    int32, plus GCD for int64, plus ALP for floats. Floats ride the int
    kernels as bit patterns (see ``codecs.encode_typed``), so DICT/RLE/FOR
    wins on repeated or clustered float values carry over for free."""
    a = np.ascontiguousarray(a)
    n = len(a)
    width = a.dtype.itemsize
    if n == 0:
        return C.encode_typed(a, C.PLAIN)
    s = a[: min(n, sample)]
    scale = n / len(s)
    best_codec, best_est = C.PLAIN, float(width) * n
    candidates = C.INT_CODECS[1:]
    if a.dtype == np.int64:
        # GCD-FOR: quantized streams (timestamps at coarse granularity,
        # strided ids) divide out their common stride before bit-packing
        candidates += (C.GCD,)
    if a.dtype.kind == "f":
        # ALP: decimal-valued floats as scaled ints (sampled like the rest;
        # a chunk whose tail defeats the sampled exponent encodes to None
        # below and falls back to PLAIN via the guard)
        candidates += (C.ALP,)
    for codec in candidates:
        enc = C.encode_typed(s, codec)
        if enc is None:
            continue
        est = len(enc) * scale
        if est < best_est:
            best_codec, best_est = codec, est
    out = C.encode_typed(a, best_codec)
    if out is None or (best_codec != C.PLAIN and len(out) >= width * n + 32):
        out = C.encode_typed(a, C.PLAIN)
    return out


def encode_values(values: np.ndarray, lengths: np.ndarray) -> bytes:
    """Encode a chunk's flattened token stream: whole-stream codec when the
    rows are statistically homogeneous, row-grouped cascade when they are not.

    Classifies rows once (vectorized per-row stats); a single effective group
    means the grouped container would only add headers and a gid stream, so
    the whole-stream path is used directly — this halves encode work versus
    encoding both candidates and keeping the smaller."""
    values = np.asarray(values, dtype=np.int32)
    lengths = np.asarray(lengths, dtype=np.int64)
    gid = C._row_groups(values, lengths)
    uniq = np.unique(gid[lengths > 0]) if len(gid) else np.zeros(0, np.int32)
    if len(uniq) <= 1:
        return select_typed_codec(values)
    grouped = C.encode_int32_grouped(values, lengths, gid=gid)
    # size guard: a misclassified chunk must never encode larger than the
    # whole-stream selection (mirrors select_typed_codec's <=PLAIN guard)
    if len(grouped) >= 4 * len(values) + 32:
        whole = select_typed_codec(values)
        if len(whole) < len(grouped):
            return whole
    return grouped


def select_str_codec(lengths: np.ndarray, blob: bytes,
                     sample: int = SAMPLE_VALUES) -> bytes:
    """Encode a string stream (lengths, blob) with the estimated-best codec."""
    n = len(lengths)
    if n == 0:
        return C.encode_strings(lengths, blob, C.STR_PLAIN)
    k = min(n, sample)
    s_len = np.asarray(lengths[:k], dtype=np.int32)
    s_blob = blob[: int(s_len.sum())]
    scale = n / k
    plain_full = C.encode_strings(lengths, blob, C.STR_PLAIN)
    best_codec, best_est = C.STR_PLAIN, float(len(plain_full))
    for codec in (C.STR_DICT, C.STR_FSST, C.STR_ZLIB):
        enc = C.encode_strings(s_len, s_blob, codec)
        if enc is None:
            continue
        est = len(enc) * scale
        if est < best_est:
            best_codec, best_est = codec, est
    if best_codec == C.STR_PLAIN:
        return plain_full
    out = C.encode_strings(lengths, blob, best_codec)
    if out is None or len(out) >= len(plain_full):
        out = plain_full
    return out
