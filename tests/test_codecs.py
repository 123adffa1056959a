"""Codec unit tests (SURVEY.md §5 item 1): every encode/decode pair on crafted
arrays — constant runs, monotone ramps, uniform random, Zipf skew, empty,
single-element, int32 extremes — mirroring the reference's golden round-trip
style (``/root/reference/.../Tests/Tables/EqualsMarkdownTests.fs:28-183``)."""

import numpy as np
import pandas as pd
import pytest

from codec_cases import INT_CASES, STR_CASES

from pandora_apache_avro_idl_to_apache_parquet_spark.functions import codecs as C
from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import (
    select_str_codec,
    select_typed_codec,
)

DTYPES = (np.int32, np.int64, np.float32, np.float64)


def _codecs(dtype) -> tuple[int, ...]:
    """Every codec ``encode_typed`` takes for a lane dtype: the integer
    family (GCD included) on every width, ALP on floats."""
    return C.INT_CODECS + (C.GCD,) + ((C.ALP,) if np.dtype(dtype).kind == "f" else ())


def _bits(a: np.ndarray) -> np.ndarray:
    return a.view(f"i{a.itemsize}")


def _param(dtype, *vals):
    """A pytest param whose id has a dtype suffix unless the dtype is int32."""
    suffix = [] if dtype is np.int32 else [dtype.__name__]
    return pytest.param(dtype, *vals, id="-".join([*map(str, vals), *suffix]))


@pytest.mark.parametrize("dtype, codec, name", [
    _param(dt, codec, name) for codec in _codecs(np.float64) for name in INT_CASES
    for dt in DTYPES if codec in _codecs(dt)
])
def test_int_codec_roundtrip(dtype, codec, name):
    a = INT_CASES[name].astype(dtype)
    buf = C.encode_typed(a, codec)
    if buf is None:
        # the inapplicabilities: bitpack on negative (bit patterns), GCD on
        # empty, constant or stride-1 streams, ALP on non-decimal floats;
        # DELTA wraps its diffs and applies everywhere
        assert (codec == C.BITPACK and len(a) and _bits(a).min() < 0) or codec in (C.GCD, C.ALP)
        return
    out = C.decode_typed(buf)
    assert out.dtype == a.dtype and np.array_equal(_bits(out), _bits(a))


@pytest.mark.parametrize("dtype, name", [_param(dt, name) for name in INT_CASES for dt in DTYPES])
def test_int_codec_selection_roundtrip(dtype, name):
    a = INT_CASES[name].astype(dtype)
    buf = select_typed_codec(a)
    out = C.decode_typed(buf)
    assert out.dtype == a.dtype and np.array_equal(_bits(out), _bits(a))
    # selection never loses to plain by more than the header guard
    assert len(buf) <= a.itemsize * len(a) + 32


def test_selection_picks_expected_winners():
    assert C.payload_codec_name(select_typed_codec(INT_CASES["runs"])) == "rle"
    assert C.payload_codec_name(select_typed_codec(INT_CASES["small_range"])) == "bitpack"
    assert C.payload_codec_name(select_typed_codec(INT_CASES["narrow_band"])) == "for"
    assert C.payload_codec_name(select_typed_codec(INT_CASES["zipf"])) == "dict"


def test_gcd_codec_quantized_streams():
    """GCD-FOR: day-granular epoch micros divide out their 86.4e9 stride."""
    rng = np.random.default_rng(3)
    ts = rng.integers(18000, 20500, 5000) * 86_400_000_000
    enc = C.encode_typed(ts, C.GCD)
    assert enc is not None
    assert np.array_equal(C.decode_typed(enc), ts)
    assert len(enc) < len(C.encode_typed(ts, C.FOR))
    sel = select_typed_codec(ts)
    assert C.payload_codec_name(sel) == "gcd"
    # inapplicable: stride 1 and constant streams
    assert C.encode_typed(np.arange(100, dtype=np.int64), C.GCD) is None
    assert C.encode_typed(np.full(50, 7, dtype=np.int64), C.GCD) is None
    # int64 extremes stay exact when applicable
    ext = np.array([-(2**62), 2**62, 0], dtype=np.int64)
    e = C.encode_typed(ext, C.GCD)
    if e is not None:
        assert np.array_equal(C.decode_typed(e), ext)


def test_alp_codec_decimal_doubles():
    """ALP: decimal-valued doubles as scaled ints, bit-identical; specials
    make the codec inapplicable, never wrong."""
    rng = np.random.default_rng(5)
    prices = np.round(rng.uniform(1, 100000, 5000), 2)
    enc = C.encode_typed(prices, C.ALP)
    assert enc is not None
    assert np.array_equal(C.decode_typed(enc).view(np.int64), prices.view(np.int64))
    assert len(enc) < 0.5 * 8 * len(prices)
    assert C.payload_codec_name(select_typed_codec(prices)) == "alp"
    # -0.0 / NaN / inf chunks bail to the bit-pattern family
    for bad in (-0.0, float("nan"), float("inf")):
        a = np.array([1.25, bad, 2.5], dtype=np.float64)
        assert C.encode_typed(a, C.ALP) is None
        out = C.decode_typed(select_typed_codec(a))
        assert np.array_equal(out.view(np.int64), a.view(np.int64))
    # full-precision randoms: inapplicable
    assert C.encode_typed(rng.standard_normal(256), C.ALP) is None


@pytest.mark.parametrize("name", list(STR_CASES))
@pytest.mark.parametrize("codec", C.STR_CODECS)
def test_str_codec_roundtrip(name, codec):
    lengths, blob = C.strings_to_blob(pd.Series(STR_CASES[name], dtype="object"))
    buf = C.encode_strings(lengths, blob, codec)
    if buf is None:
        assert codec == C.STR_FSST  # non-ASCII precondition
        return
    l2, b2 = C.decode_strings(buf)
    assert np.array_equal(l2, lengths) and b2 == blob
    assert C.blob_to_strings(l2, b2).to_pylist() == STR_CASES[name]


@pytest.mark.parametrize("name", list(STR_CASES))
def test_str_selection_roundtrip(name):
    lengths, blob = C.strings_to_blob(pd.Series(STR_CASES[name], dtype="object"))
    buf = select_str_codec(lengths, blob)
    l2, b2 = C.decode_strings(buf)
    assert np.array_equal(l2, lengths) and b2 == blob


def test_fsst_beats_plain_on_prefix_heavy():
    lengths, blob = C.strings_to_blob(pd.Series(STR_CASES["prefix_heavy"]))
    fsst = C.encode_strings(lengths, blob, C.STR_FSST)
    plain = C.encode_strings(lengths, blob, C.STR_PLAIN)
    assert len(fsst) < 0.7 * len(plain)


def test_grouped_roundtrip_mixed_rows():
    rng = np.random.default_rng(7)
    rows = []
    for i in range(400):
        n = int(rng.integers(0, 300))
        m = i % 5
        if m == 0:
            rows.append(np.full(n, 9, np.int32))
        elif m == 1:
            rows.append(rng.integers(0, 256, n).astype(np.int32))
        elif m == 2:
            rows.append((50_000 + rng.integers(0, 500, n)).astype(np.int32))
        elif m == 3:
            rows.append(rng.integers(0, 32_000, n).astype(np.int32))
        else:
            rows.append(rng.integers(-(2**31), 2**31 - 1, n).astype(np.int32))
    lengths = np.array([len(r) for r in rows], np.int64)
    values = np.concatenate(rows).astype(np.int32)
    buf = C.encode_int32_grouped(values, lengths)
    assert np.array_equal(C.decode_int32_grouped(buf, lengths), values)
    assert len(buf) < 4 * len(values) * 0.6  # mixed stream still compresses


def test_grouped_empty_and_all_empty_rows():
    lengths = np.zeros(5, np.int64)
    values = np.zeros(0, np.int32)
    buf = C.encode_int32_grouped(values, lengths)
    assert np.array_equal(C.decode_int32_grouped(buf, lengths), values)


def test_bitpack_width_zero_and_full():
    a = np.zeros(100, np.int32)
    buf = C.encode_int32(a, C.BITPACK)
    assert len(buf) < 40 and np.array_equal(C.decode_int32(buf), a)
    b = np.array([0, 2**31 - 1] * 50, np.int32)
    buf = C.encode_int32(b, C.BITPACK)
    assert np.array_equal(C.decode_int32(buf), b)


def test_payloads_self_describing():
    a = INT_CASES["zipf"]
    buf = select_typed_codec(a)
    assert C.payload_codec_name(buf) in {"plain", "bitpack", "for", "rle", "dict"}
