"""RLEv2 / RLEv1 / byte-RLE / boolean / bitpack golden + property tests.

Golden byte vectors copied verbatim from the reference's unit tests
(cross-implementation ground truth, incl. a 256-byte patched-base blob
generated by the Java ORC implementation):
  /root/reference/src/encoding/integer/rle_v2/mod.rs:557-662
  /root/reference/src/encoding/integer/rle_v1.rs:434-465
  /root/reference/src/encoding/byte.rs:343-356
  /root/reference/src/encoding/boolean.rs:176-211
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from orc_rust_spark.kernels.bitpack import pack_ints, unpack_ints
from orc_rust_spark.kernels.boolean import boolean_decode, boolean_encode
from orc_rust_spark.kernels.byte_rle import byte_rle_decode, byte_rle_encode
from orc_rust_spark.kernels.for_codec import (
    bitpack_decode,
    bitpack_encode,
    for_decode,
    for_encode,
    int_dict_decode,
    int_dict_encode,
)
from orc_rust_spark.kernels.rle_v1 import rle_v1_decode, rle_v1_encode
from orc_rust_spark.kernels.rle_v2 import rle_v2_decode, rle_v2_encode

I64 = np.int64


# ---------------------------------------------------------------------------
# RLEv2 golden decode vectors
# ---------------------------------------------------------------------------

GOLDEN_UNSIGNED = [
    (bytes([2, 1, 64, 5, 80, 1, 1]), [1, 1, 1, 1, 1, 0, 1, 0, 1, 0, 0, 1, 1, 1, 1]),
    (bytes([0x5E, 0x03, 0x5C, 0xA1, 0xAB, 0x1E, 0xDE, 0xAD, 0xBE, 0xEF]),
     [23713, 43806, 57005, 48879]),
    (bytes([102, 9, 0, 126, 224, 7, 208, 0, 126, 79, 66, 64, 0, 127, 128, 8, 2, 0,
            128, 192, 8, 22, 0, 130, 0, 8, 42]),
     [2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090]),
    (bytes([196, 9, 2, 2, 74, 40, 166]), [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]),
    (bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46]),
     [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]),
    (bytes([7, 1]), [1] * 10),
    (bytes([0x0A, 0x27, 0x10]), [10000] * 5),
    (bytes([0x8E, 0x09, 0x2B, 0x21, 0x07, 0xD0, 0x1E, 0x00, 0x14, 0x70, 0x28, 0x32,
            0x3C, 0x46, 0x50, 0x5A, 0xFC, 0xE8]),
     [2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090]),
]

# rle_v2/mod.rs:631-662 — 256-byte blob generated by the ORC Java impl
PATCHED_BASE_1_DATA = bytes([
    144, 109, 4, 164, 141, 16, 131, 194, 0, 240, 112, 64, 60, 84, 24, 3, 193, 201,
    128, 120, 60, 33, 4, 244, 3, 193, 192, 224, 128, 56, 32, 15, 22, 131, 129, 225,
    0, 112, 84, 86, 14, 8, 106, 193, 192, 228, 160, 64, 32, 14, 213, 131, 193, 192,
    240, 121, 124, 30, 18, 9, 132, 67, 0, 224, 120, 60, 28, 14, 32, 132, 65, 192,
    240, 160, 56, 61, 91, 7, 3, 193, 192, 240, 120, 76, 29, 23, 7, 3, 220, 192, 240,
    152, 60, 52, 15, 7, 131, 129, 225, 0, 144, 56, 30, 14, 44, 140, 129, 194, 224,
    120, 0, 28, 15, 8, 6, 129, 198, 144, 128, 104, 36, 27, 11, 38, 131, 33, 48, 224,
    152, 60, 111, 6, 183, 3, 112, 0, 1, 78, 5, 46, 2, 1, 1, 141, 3, 1, 1, 138, 22,
    0, 65, 1, 4, 0, 225, 16, 209, 192, 4, 16, 8, 36, 16, 3, 48, 1, 3, 13, 33, 0,
    176, 0, 1, 94, 18, 0, 68, 0, 33, 1, 143, 0, 1, 7, 93, 0, 25, 0, 5, 0, 2, 0, 4,
    0, 1, 0, 1, 0, 2, 0, 16, 0, 1, 11, 150, 0, 3, 0, 1, 0, 1, 99, 157, 0, 1, 140,
    54, 0, 162, 1, 130, 0, 16, 112, 67, 66, 0, 2, 4, 0, 0, 224, 0, 1, 0, 16, 64, 16,
    91, 198, 1, 2, 0, 32, 144, 64, 0, 12, 2, 8, 24, 0, 64, 0, 1, 0, 0, 8, 48, 51,
    128, 0, 2, 12, 16, 32, 32, 71, 128, 19, 76,
])
PATCHED_BASE_1_EXPECTED = [
    20, 2, 3, 2, 1, 3, 17, 71, 35, 2, 1, 139, 2, 2, 3, 1783, 475, 2, 1, 1, 3, 1, 3,
    2, 32, 1, 2, 3, 1, 8, 30, 1, 3, 414, 1, 1, 135, 3, 3, 1, 414, 2, 1, 2, 2, 594,
    2, 5, 6, 4, 11, 1, 2, 2, 1, 1, 52, 4, 1, 2, 7, 1, 17, 334, 1, 2, 1, 2, 2, 6, 1,
    266, 1, 2, 217, 2, 6, 2, 13, 2, 2, 1, 2, 3, 5, 1, 2, 1, 7244, 11813, 1, 33, 2,
    -13, 1, 2, 3, 13, 1, 92, 3, 13, 5, 14, 9, 141, 12, 6, 15, 25, -1, -1, -1, 23, 1,
    -1, -1, -71, -2, -1, -1, -1, -1, 2, 1, 4, 34, 5, 78, 8, 1, 2, 2, 1, 9, 10, 2, 1,
    4, 13, 1, 5, 4, 4, 19, 5, -1, -1, -1, 34, -17, -200, -1, -943, -13, -3, 1, 2,
    -1, -1, 1, 8, -1, 1483, -2, -1, -1, -12751, -1, -1, -1, 66, 1, 3, 8, 131, 14, 5,
    1, 2, 2, 1, 1, 8, 1, 1, 2, 1, 5, 9, 2, 3, 112, 13, 2, 2, 1, 5, 10, 3, 1, 1, 13,
    2, 3, 4, 1, 3, 1, 1, 2, 1, 1, 2, 4, 2, 207, 1, 1, 2, 4, 3, 3, 2, 2, 16,
]


@pytest.mark.parametrize("data,expected", GOLDEN_UNSIGNED)
def test_rlev2_golden_unsigned(data, expected):
    assert list(rle_v2_decode(data, len(expected), signed=False)) == expected


def test_rlev2_golden_signed_direct():
    data = bytes([110, 3, 0, 185, 66, 1, 86, 60, 1, 189, 90, 1, 125, 222])
    assert list(rle_v2_decode(data, 4, signed=True)) == [23713, 43806, 57005, 48879]


def test_rlev2_golden_patched_base_java():
    got = rle_v2_decode(PATCHED_BASE_1_DATA, len(PATCHED_BASE_1_EXPECTED), signed=True)
    assert list(got) == PATCHED_BASE_1_EXPECTED


def _roundtrip_v2(arr, signed=True, width_bits=64):
    a = np.asarray(arr, dtype=I64)
    enc = rle_v2_encode(a, signed=signed, width_bits=width_bits)
    dec = rle_v2_decode(enc, len(a), signed=signed)
    assert (dec == a).all()
    return enc


def test_rlev2_roundtrip_patterns():
    _roundtrip_v2([10000] * 5)
    _roundtrip_v2([2, 3, 5, 7, 11, 13, 17, 19, 23, 29])
    _roundtrip_v2([2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090])
    _roundtrip_v2(range(0, 5000, 3))
    _roundtrip_v2(range(5000, 0, -1))
    _roundtrip_v2([7] * 2000)
    _roundtrip_v2([1, 2] * 600)
    _roundtrip_v2([0])
    _roundtrip_v2([5, 5])
    _roundtrip_v2([-5] * 7)
    _roundtrip_v2([2**62, -(2**62), 17, -1])
    _roundtrip_v2([np.iinfo(I64).max, np.iinfo(I64).min, 0, -1, 1] * 3)


def test_rlev2_roundtrip_block_boundaries():
    # runs straddling the 512-value flush (SURVEY §7.3 hard case)
    for run_len in (510, 511, 512, 513, 514, 1023, 1024, 1025):
        _roundtrip_v2([9] * run_len)
        _roundtrip_v2(list(range(500)) + [42] * run_len + list(range(30)))
    # literal buffer at 510/511 followed by a long run (cap interference)
    rng = np.random.default_rng(7)
    for m in (509, 510, 511, 512):
        base = rng.integers(0, 2, m).cumsum()  # no 3-run guaranteed? make distinct
        base = np.arange(m) * 2 + (np.arange(m) % 2)  # strictly varying, non-monotonic deltas
        vals = np.concatenate([np.where(np.arange(m) % 2 == 0, base, -base), [77] * 20])
        _roundtrip_v2(vals)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(-100, 100),
            st.integers(-(2**63), 2**63 - 1),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=1500,
    ),
    st.booleans(),
)
def test_rlev2_roundtrip_hypothesis(vals, signed):
    if not signed and any(v < 0 for v in vals):
        vals = [abs(v) % (2**63) for v in vals]
    _roundtrip_v2(vals, signed=signed)


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_rlev2_roundtrip_runs(data):
    # run-heavy generator: biased to exercise SR/delta/fixed boundaries
    segs = data.draw(st.lists(
        st.tuples(st.integers(-50, 50), st.integers(1, 700)), min_size=1, max_size=12))
    vals = np.concatenate([np.full(n, v, dtype=I64) for v, n in segs])
    _roundtrip_v2(vals)


# ---------------------------------------------------------------------------
# Byte RLE
# ---------------------------------------------------------------------------

def test_byte_rle_golden():
    assert list(byte_rle_decode(bytes([0x61, 0x00]), 100)) == [0] * 100
    assert list(byte_rle_decode(bytes([0x01, 0x01]), 4)) == [1] * 4
    assert list(byte_rle_decode(bytes([0xFE, 0x44, 0x45]), 2)) == [0x44, 0x45]
    # encode golden: 100 zeros -> run header 97, value 0
    assert byte_rle_encode(np.zeros(100, dtype=np.uint8)) == bytes([0x61, 0x00])
    assert byte_rle_encode(np.array([0x44, 0x45], dtype=np.uint8)) == bytes([0xFE, 0x44, 0x45])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=0, max_size=2000))
def test_byte_rle_roundtrip(vals):
    a = np.array(vals, dtype=np.uint8)
    enc = byte_rle_encode(a)
    assert (byte_rle_decode(enc, len(a)) == a).all()


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_byte_rle_roundtrip_runs(data):
    segs = data.draw(st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 300)), min_size=1, max_size=10))
    a = np.concatenate([np.full(n, v, dtype=np.uint8) for v, n in segs])
    enc = byte_rle_encode(a)
    assert (byte_rle_decode(enc, len(a)) == a).all()


# ---------------------------------------------------------------------------
# Boolean / PRESENT
# ---------------------------------------------------------------------------

def test_boolean_golden():
    assert list(boolean_decode(bytes([0x61, 0x00]), 800)) == [False] * 800
    expected = [False, True, False, False, False, True, False, False,
                False, True, False, False, False, True, False, True]
    assert list(boolean_decode(bytes([0xFE, 0b01000100, 0b01000101]), 16)) == expected
    assert list(boolean_decode(bytes([0xFF, 0x80]), 8)) == [True] + [False] * 7
    # encode golden: one true + seven false -> literal 0x80 byte
    assert boolean_encode(np.array([True] + [False] * 7)) == bytes([0xFF, 0x80])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.booleans(), min_size=1, max_size=3000))
def test_boolean_roundtrip(vals):
    a = np.array(vals, dtype=bool)
    enc = boolean_encode(a)
    assert (boolean_decode(enc, len(a)) == a).all()


# ---------------------------------------------------------------------------
# RLEv1
# ---------------------------------------------------------------------------

def test_rlev1_golden():
    assert list(rle_v1_decode(bytes([0x61, 0x00, 0x07]), 100, signed=False)) == [7] * 100
    assert list(rle_v1_decode(bytes([0x61, 0xFF, 0x64]), 100, signed=False)) == list(range(100, 0, -1))


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=800), st.booleans())
def test_rlev1_roundtrip(vals, signed):
    if not signed:
        vals = [abs(v) for v in vals]
    a = np.array(vals, dtype=I64)
    enc = rle_v1_encode(a, signed=signed)
    assert (rle_v1_decode(enc, len(a), signed=signed) == a).all()


# ---------------------------------------------------------------------------
# bitpack / FoR / int dictionary
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(st.integers(1, 64), st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=600))
def test_pack_unpack(width, vals):
    vals = [v & ((1 << width) - 1) for v in vals]
    a = np.array([np.uint64(v) for v in vals], dtype=np.uint64)
    packed = pack_ints(a, width)
    got, pos = unpack_ints(packed, 0, len(a), width)
    assert pos == len(packed)
    assert (got == a).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(-(2**62), 2**62), min_size=0, max_size=500))
def test_for_roundtrip(vals):
    a = np.array(vals, dtype=I64)
    assert (for_decode(for_encode(a)) == a).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**62), min_size=0, max_size=500))
def test_bitpack_codec_roundtrip(vals):
    a = np.array(vals, dtype=I64)
    assert (bitpack_decode(bitpack_encode(a)) == a).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(-1000, 1000), min_size=0, max_size=500))
def test_int_dict_roundtrip(vals):
    a = np.array(vals, dtype=I64)
    assert (int_dict_decode(int_dict_encode(a)) == a).all()


# ---------------------------------------------------------------------------
# bitpack golden MSB-first parity (guards the u64-group fold at every width:
# a matched pack/unpack bug would survive pure roundtrip tests)
# ---------------------------------------------------------------------------

def _pack_msb_oracle(vals, width):
    """Scalar MSB-first bit concatenation, zero-padded to a byte."""
    bits = []
    for v in vals:
        bits.extend((int(v) >> (width - 1 - k)) & 1 for k in range(width))
    while len(bits) % 8:
        bits.append(0)
    return bytes(
        int("".join(map(str, bits[i: i + 8])), 2)
        for i in range(0, len(bits), 8)
    )


def test_pack_ints_golden_all_widths():
    rng = np.random.default_rng(7)
    for width in range(1, 65):
        n = int(rng.integers(1, 100))
        vals = rng.integers(0, 1 << min(width, 63), n, dtype=np.uint64)
        if width == 64:
            vals |= np.uint64(1) << np.uint64(63)
        assert pack_ints(vals, width) == _pack_msb_oracle(vals, width), width


def test_pack_segments_places_each_segment():
    """Segments of mixed widths, read from `src` with or without gaps
    between them, placed at unsorted `dst` offsets with gaps: each
    segment's bytes at out[dst[k]:] are its own MSB-first pack, every
    byte between segments keeps its sentinel, a zero-count segment
    writes nothing, and the placed bytes unpack back to the segments."""
    from orc_rust_spark.kernels.bitpack import pack_segments, unpack_segments
    sentinel = 0xA5
    for dtype, top, gaps, step in [
            (np.uint64, 64, True, 1), (np.uint64, 64, False, 1),
            (np.uint32, 32, True, 1), (np.uint32, 32, False, 1),
            (np.uint64, 8, True, 1), (np.uint64, 64, True, 8)]:
        rng = np.random.default_rng(top + 2 * gaps + step)
        k = 40
        # step 8: whole-byte widths only, which fold without padding
        widths = step * rng.integers(1, top // step + 1, k)
        widths[:3] = top
        counts = rng.integers(0, 300, k)
        counts[3:9] = [0, 1, 7, 8, 9, 512]
        src, starts, segs = [], [], []
        for w, c in zip(widths, counts):
            if gaps:
                src.append(rng.integers(0, 1 << 32, int(rng.integers(0, 5)),
                                        dtype=np.uint64))
            starts.append(sum(map(len, src)))
            vals = rng.integers(0, 1 << min(int(w), 63), int(c),
                                dtype=np.uint64)
            if w == 64:
                vals |= np.uint64(1) << np.uint64(63)
            src.append(vals)
            segs.append(vals)
        src = np.concatenate(src).astype(dtype)
        nbytes = (counts * widths + 7) // 8
        # lay the segments out in a shuffled order with 0-3 byte gaps
        dst = np.zeros(k, dtype=np.int64)
        at = 0
        for i in rng.permutation(k):
            at += int(rng.integers(0, 4))
            dst[i] = at
            at += int(nbytes[i])
        out = np.full(at + 3, sentinel, dtype=np.uint8)
        pack_segments(src, np.array(starts), counts, widths, out, dst)
        written = np.zeros(len(out), dtype=bool)
        for i in range(k):
            want = _pack_msb_oracle(segs[i], int(widths[i])) \
                if counts[i] else b""
            got = out[dst[i]: dst[i] + nbytes[i]].tobytes()
            assert got == want, (dtype, top, gaps, i)
            written[dst[i]: dst[i] + nbytes[i]] = True
        assert (out[~written] == sentinel).all(), (dtype, top, gaps)
        back = unpack_segments(np.concatenate([out, np.zeros(8, np.uint8)]),
                               dst, widths, counts)
        assert np.array_equal(back, np.concatenate(segs)), (dtype, top, gaps)


@pytest.mark.parametrize("top", [8, 24, 25, 26, 33, 56, 57, 63, 64])
def test_unpack_segments_mixed_widths(top):
    """One call over segments of different widths, separated by junk
    bytes, equals each segment's own pack: the u32 word up to 25 bits,
    the u64 word past it and the 9th byte past 56 bits."""
    from orc_rust_spark.kernels.bitpack import unpack_segments
    rng = np.random.default_rng(top)
    widths = np.concatenate([[top], rng.integers(1, top + 1, 11)])
    counts = rng.integers(0, 300, len(widths))
    buf, starts, want = bytearray(), [], []
    for w, c in zip(widths, counts):
        buf += rng.integers(0, 256, int(rng.integers(0, 5)),
                            dtype=np.uint8).tobytes()
        vals = rng.integers(0, 1 << min(int(w), 63), int(c), dtype=np.uint64)
        if w == 64:
            vals |= np.uint64(1) << np.uint64(63)
        starts.append(len(buf))
        buf += _pack_msb_oracle(vals, int(w))
        want.append(vals)
    got = unpack_segments(np.frombuffer(bytes(buf) + bytes(8), np.uint8),
                          np.array(starts), widths, counts)
    assert got.dtype == (np.uint32 if top <= 25 else np.uint64)
    assert np.array_equal(got, np.concatenate(want))
