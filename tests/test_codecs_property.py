"""Property-based codec round-trip tests (hypothesis) — every int32 / int64
stream and every string stream must round-trip bit-identically through every applicable
codec and through the auto-selectors. Complements the crafted-array tests in
test_codecs.py with adversarial random structure."""

import numpy as np
from hypothesis import given, settings, strategies as st

from pandora_apache_avro_idl_to_apache_parquet_spark.functions import codecs as C
from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import (
    encode_values,
    select_str_codec,
    select_typed_codec,
)

int32s = st.integers(min_value=-(2**31), max_value=2**31 - 1)


@st.composite
def int_arrays(draw):
    kind = draw(st.sampled_from(["random", "runs", "sorted", "small", "const"]))
    n = draw(st.integers(min_value=0, max_value=500))
    if kind == "random":
        vals = draw(st.lists(int32s, min_size=n, max_size=n))
        return np.array(vals, dtype=np.int32)
    if kind == "runs":
        runs = draw(st.lists(st.tuples(int32s, st.integers(1, 50)),
                             min_size=0, max_size=20))
        return np.concatenate(
            [np.full(c, v, np.int32) for v, c in runs] or [np.zeros(0, np.int32)]
        )
    if kind == "sorted":
        vals = sorted(draw(st.lists(int32s, min_size=n, max_size=n)))
        return np.array(vals, dtype=np.int32)
    if kind == "small":
        vals = draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
        return np.array(vals, dtype=np.int32)
    return np.full(n, draw(int32s), dtype=np.int32)


@settings(max_examples=30, deadline=None)
@given(
    lengths=st.lists(st.integers(0, 20), min_size=0, max_size=60),
    data=st.data(),
)
def test_grouped_roundtrip(lengths, data):
    lengths = np.array(lengths, dtype=np.int64)
    total = int(lengths.sum())
    vals = data.draw(st.lists(int32s, min_size=total, max_size=total))
    values = np.array(vals, dtype=np.int32)
    enc = encode_values(values, lengths)
    if C.payload_codec_name(enc) == "grouped":
        out = C.decode_int32_grouped(enc, lengths)
    else:
        out = C.decode_int32(enc)
    assert np.array_equal(out, values)


@settings(max_examples=40, deadline=None)
@given(strings=st.lists(st.text(alphabet=st.characters(codec="ascii"),
                                max_size=30), max_size=50))
def test_string_codecs_roundtrip(strings):
    import pyarrow as pa

    arr = pa.array(strings, type=pa.string())
    lengths, blob = C.strings_to_blob(arr)
    for codec in C.STR_CODECS:
        enc = C.encode_strings(lengths, blob, codec)
        if enc is None:
            continue
        l2, b2 = C.decode_strings(enc)
        assert np.array_equal(np.asarray(l2), np.asarray(lengths)) and b2 == blob
    enc = select_str_codec(lengths, blob)
    l2, b2 = C.decode_strings(enc)
    assert np.array_equal(np.asarray(l2), np.asarray(lengths)) and b2 == blob


# ------------------------------------------------- typed (int64/float) lanes


int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@st.composite
def int64_arrays(draw):
    kind = draw(st.sampled_from(["random", "runs", "sorted", "extremes", "const"]))
    n = draw(st.integers(min_value=0, max_value=300))
    if kind == "random":
        return np.array(draw(st.lists(int64s, min_size=n, max_size=n)), dtype=np.int64)
    if kind == "runs":
        runs = draw(st.lists(st.tuples(int64s, st.integers(1, 40)), max_size=15))
        return np.concatenate(
            [np.full(c, v, np.int64) for v, c in runs] or [np.zeros(0, np.int64)]
        )
    if kind == "sorted":
        return np.array(sorted(draw(st.lists(int64s, min_size=n, max_size=n))), dtype=np.int64)
    if kind == "extremes":
        vals = draw(st.lists(st.sampled_from(
            [-(2**63), 2**63 - 1, 0, -1, 1, 2**31, -(2**31) - 1]), min_size=n, max_size=n))
        return np.array(vals, dtype=np.int64)
    return np.full(n, draw(int64s), dtype=np.int64)


INT_CODECS_ALL = C.INT_CODECS + (C.GCD,)


def _check_int_codec_roundtrip(a, codec):
    """One kernel per codec for every lane width: the stream round-trips
    through the codec with its dtype kept (None: inapplicable, e.g. bitpack
    on negatives)."""
    enc = C.encode_typed(a, codec)
    if enc is None:
        return
    out = C.decode_typed(enc)
    assert out.dtype == a.dtype and np.array_equal(out, a)


@settings(max_examples=60, deadline=None)
@given(a=int_arrays(), codec=st.sampled_from(INT_CODECS_ALL))
def test_int_codec_roundtrip(a, codec):
    _check_int_codec_roundtrip(a, codec)


@settings(max_examples=60, deadline=None)
@given(a=int64_arrays(), codec=st.sampled_from(INT_CODECS_ALL))
def test_int64_codec_roundtrip(a, codec):
    _check_int_codec_roundtrip(a, codec)


@settings(max_examples=40, deadline=None)
@given(a=int_arrays())
def test_select_int_roundtrip_and_bounded(a):
    enc = select_typed_codec(a)
    assert np.array_equal(C.decode_typed(enc), a)
    assert len(enc) <= 4 * len(a) + 64  # never meaningfully worse than plain


@settings(max_examples=40, deadline=None)
@given(a=int64_arrays())
def test_select_typed_int64_roundtrip_and_bounded(a):
    enc = select_typed_codec(a)
    assert np.array_equal(C.decode_typed(enc), a)
    assert len(enc) <= 8 * len(a) + 64


@st.composite
def float_arrays(draw, dtype):
    finite = st.floats(allow_nan=False, allow_infinity=False,
                       width=32 if dtype == np.float32 else 64)
    special = st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0, 0.0])
    n = draw(st.integers(min_value=0, max_value=200))
    vals = draw(st.lists(st.one_of(finite, special), min_size=n, max_size=n))
    return np.array(vals, dtype=dtype)


@settings(max_examples=50, deadline=None)
@given(data=st.data(), dtype=st.sampled_from([np.float32, np.float64]))
def test_float_typed_roundtrip_bit_identical(data, dtype):
    """NaN payloads, ±inf and -0.0 must round-trip bit-for-bit (floats ride
    the int kernels as bit patterns; equality is on the bits, never on float
    semantics)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import select_typed_codec

    a = data.draw(float_arrays(dtype))
    out = C.decode_typed(select_typed_codec(a))
    assert out.dtype == a.dtype
    ib = np.int32 if dtype == np.float32 else np.int64
    assert np.array_equal(a.view(ib), out.view(ib))


@st.composite
def decimal_float_arrays(draw, dtype):
    """Floats that are exact decimals k/10^e — the ALP sweet spot — mixed
    with occasional specials so applicability flips per array."""
    e = draw(st.integers(min_value=0, max_value=4 if dtype == np.float32 else 6))
    kmax = (1 << 20) if dtype == np.float32 else (1 << 40)
    n = draw(st.integers(min_value=0, max_value=300))
    ks = draw(st.lists(st.integers(min_value=-kmax, max_value=kmax),
                       min_size=n, max_size=n))
    a = (np.array(ks, dtype=np.float64) / 10.0 ** e).astype(dtype)
    if draw(st.booleans()) and n:
        a[draw(st.integers(min_value=0, max_value=n - 1))] = draw(
            st.sampled_from([np.nan, np.inf, -0.0]))
    return a


@settings(max_examples=60, deadline=None)
@given(data=st.data(), dtype=st.sampled_from([np.float32, np.float64]))
def test_alp_decimal_floats_bit_identical(data, dtype):
    """ALP path: decimal-valued float chunks round-trip bit-for-bit through
    select_typed_codec whether ALP applies (pure decimals) or bails
    (specials / overflow) — applicability must never cost correctness."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import select_typed_codec

    a = data.draw(decimal_float_arrays(dtype))
    enc = select_typed_codec(a)
    out = C.decode_typed(enc)
    assert out.dtype == a.dtype
    ib = np.int32 if dtype == np.float32 else np.int64
    assert np.array_equal(a.view(ib), out.view(ib))


@settings(max_examples=30, deadline=None)
@given(data=st.data(), dtype=st.sampled_from([np.float32, np.float64]))
def test_alp_direct_applicability(data, dtype):
    """encode_typed(.., ALP) either returns a bit-identical payload or None;
    never a wrong answer."""
    a = data.draw(decimal_float_arrays(dtype))
    enc = C.encode_typed(a, C.ALP)
    if enc is None:
        return
    out = C.decode_typed(enc)
    ib = np.int32 if dtype == np.float32 else np.int64
    assert np.array_equal(a.view(ib), out.view(ib))


@settings(max_examples=40, deadline=None)
@given(strings=st.lists(st.text(max_size=30), max_size=50))
def test_string_codecs_roundtrip_unicode(strings):
    """Arbitrary unicode (multi-byte UTF-8 ⇒ bytes ≥ 0xC2 everywhere) through
    every string codec — exercises the FSST escape path."""
    import pyarrow as pa

    arr = pa.array(strings, type=pa.string())
    lengths, blob = C.strings_to_blob(arr)
    for codec in C.STR_CODECS:
        enc = C.encode_strings(lengths, blob, codec)
        assert enc is not None, "FSST must accept arbitrary UTF-8 now"
        l2, b2 = C.decode_strings(enc)
        assert np.array_equal(np.asarray(l2), np.asarray(lengths)) and b2 == blob


@settings(max_examples=60, deadline=None)
@given(blob=st.binary(max_size=400))
def test_fsst_escape_roundtrip_arbitrary_bytes(blob):
    from pandora_apache_avro_idl_to_apache_parquet_spark.functions.codecs import (
        _fsst_escape,
        _fsst_unescape,
    )

    esc = _fsst_escape(blob)
    v = np.frombuffer(esc, dtype=np.uint8)
    in_code_range = (v >= 192) & (v <= 254)
    assert not in_code_range.any()
    assert _fsst_unescape(esc) == blob


def test_gcd_i64_oversized_gcd_skipped():
    """Regression: a uint64 residual stream whose gcd exceeds int64 max (one
    huge residual IS the gcd) must make GCD inapplicable, not crash the
    struct pack — and the cost model still round-trips via another codec."""
    a = np.array([0, -(2**63)], dtype=np.int64)  # residual 2^63 > i64 max
    assert C.encode_typed(a, C.GCD) is None
    buf = select_typed_codec(a)
    assert np.array_equal(C.decode_typed(buf), a)
