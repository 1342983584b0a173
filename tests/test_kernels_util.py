"""Golden + property tests for util kernels.

Golden vectors copied from the reference's own unit tests
(/root/reference/src/encoding/integer/util.rs:620-810) as
cross-implementation ground truth.
"""

import numpy as np
import pytest
from hypothesis import given, strategies as st

from orc_rust_spark.kernels.util import (
    bits_used,
    bits_used_scalar,
    encode_bit_width,
    get_closest_aligned_bit_width,
    get_closest_fixed_bits,
    read_varint,
    rle_v2_decode_bit_width,
    rle_v2_encode_bit_width,
    write_varint,
    zigzag_decode,
    zigzag_encode,
    zigzag_decode_scalar,
    zigzag_encode_scalar,
)
from tests.rle_v2_ref import (
    calculate_percentile_bits,
    signed_msb_decode_scalar,
    signed_msb_encode_scalar,
)

I64_MIN = -(1 << 63)
I64_MAX = (1 << 63) - 1


def test_zigzag_golden():
    # util.rs:623-676
    pairs = [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4), (-3, 5), (3, 6), (-4, 7), (4, 8), (-5, 9)]
    for dec, enc in pairs:
        assert zigzag_encode_scalar(dec) == enc
        assert zigzag_decode_scalar(enc) == dec
    # i64 extremes: zigzag(i64::MAX) = -2 (as u64: 0xFF...FE), zigzag(i64::MIN) = -1
    assert zigzag_encode_scalar(I64_MAX) == 0xFFFFFFFFFFFFFFFE
    assert zigzag_encode_scalar(I64_MIN) == 0xFFFFFFFFFFFFFFFF
    assert zigzag_decode_scalar(0xFFFFFFFFFFFFFFFE) == I64_MAX
    assert zigzag_decode_scalar(0xFFFFFFFFFFFFFFFF) == I64_MIN


@given(st.lists(st.integers(I64_MIN, I64_MAX), min_size=1, max_size=200))
def test_zigzag_roundtrip_vectorized(vals):
    a = np.array(vals, dtype=np.int64)
    assert (zigzag_decode(zigzag_encode(a)) == a).all()


def test_varint_golden():
    # util.rs:771-809
    cases = [(b"\x00", 0), (b"\x01", 1), (b"\x7f", 127), (b"\x80\x01", 128),
             (b"\x81\x01", 129), (b"\xff\x7f", 16383), (b"\x80\x80\x01", 16384),
             (b"\x81\x80\x01", 16385)]
    for raw, expected in cases:
        val, pos = read_varint(raw, 0)
        assert val == expected and pos == len(raw)
        out = bytearray()
        write_varint(out, expected)
        assert bytes(out) == raw


@given(st.integers(0, (1 << 64) - 1))
def test_varint_roundtrip(v):
    out = bytearray()
    write_varint(out, v)
    got, pos = read_varint(out, 0)
    assert got == v and pos == len(out)


def test_bit_width_tables():
    # util.rs:370-405: the gap mapping
    for enc, dec in [(0, 1), (23, 24), (24, 26), (25, 28), (26, 30), (27, 32),
                     (28, 40), (29, 48), (30, 56), (31, 64)]:
        assert rle_v2_decode_bit_width(enc) == dec
        assert rle_v2_encode_bit_width(dec) == enc
    assert get_closest_fixed_bits(0) == 1
    assert get_closest_fixed_bits(25) == 26
    assert get_closest_fixed_bits(57) == 64
    assert get_closest_aligned_bit_width(0) == 1
    assert get_closest_aligned_bit_width(3) == 4
    assert get_closest_aligned_bit_width(17) == 24
    # the reference quirk: 49..=54 -> 56, 55..=64 -> 64 (util.rs:468-469)
    assert get_closest_aligned_bit_width(54) == 56
    assert get_closest_aligned_bit_width(55) == 64
    for w in range(65):
        assert rle_v2_decode_bit_width(encode_bit_width(w)) == get_closest_fixed_bits(w)


@given(st.lists(st.integers(0, (1 << 64) - 1), min_size=1, max_size=300))
def test_bits_used_vectorized(vals):
    a = np.array([np.uint64(v) for v in vals], dtype=np.uint64)
    expect = [v.bit_length() for v in vals]
    assert list(bits_used(a)) == expect


def test_signed_msb():
    for v in (0, 1, -1, 1000, -1000, 2**40, -(2**40)):
        for bw in range(max((abs(v).bit_length() + 1 + 7) // 8, 1), 9):
            assert signed_msb_decode_scalar(signed_msb_encode_scalar(v, bw), bw) == v


def test_percentile_bits():
    vals = np.array([1] * 95 + [2**40] * 5, dtype=np.uint64)
    assert calculate_percentile_bits(vals, 1.0) == 48  # closest fixed of 41
    assert calculate_percentile_bits(vals, 0.90) == 1
    # boundary truncation: (1-0.95)*100 = 5 exactly -> the 5 outliers skipped
    assert calculate_percentile_bits(vals, 0.95) == 1


def test_iota32_over_cap_leaves_cache_alone(monkeypatch):
    from orc_rust_spark.kernels import util
    monkeypatch.setattr(util, "IOTA32_CAP", 1 << 17)
    cached = util.iota32(1000)
    assert (cached == np.arange(1000)).all()
    before = util._IOTA32
    big = util.iota32((1 << 17) + 5)
    assert util._IOTA32 is before
    assert big.dtype == np.int32
    assert (big == np.arange((1 << 17) + 5)).all()
    # under the cap the cache still grows
    util.iota32(1 << 17)
    assert len(util._IOTA32) >= 1 << 17
