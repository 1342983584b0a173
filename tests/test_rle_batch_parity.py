"""Differential parity: the batch-vectorized RLEv2 encoder/decoder must
be byte-/value-identical to the scalar reference port (`rle_v2_encode_ref`
/ `rle_v2_decode_ref`), which itself is golden-vector-checked against the
reference implementation (tests/test_kernels_rle.py)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from orc_rust_spark.kernels.rle_v2 import rle_v2_decode, rle_v2_encode
from orc_rust_spark.kernels.rle_v2 import _HDR_DIRECT, _HDR_PATCHED_BASE
from tests.rle_v2_ref import rle_v2_decode_ref, rle_v2_encode_ref

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1


def _check(v: np.ndarray, signed: bool) -> None:
    ref = rle_v2_encode_ref(v, signed=signed)
    fast = rle_v2_encode(v, signed=signed)
    assert ref == fast
    a = rle_v2_decode_ref(ref, len(v), signed=signed)
    b = rle_v2_decode(ref, len(v), signed=signed)
    np.testing.assert_array_equal(a, b)
    np.testing.assert_array_equal(b, v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(I64_MIN, I64_MAX), min_size=0, max_size=1200),
       st.booleans())
def test_parity_random_wide(vals, signed):
    v = np.array(vals, dtype=np.int64)
    if not signed and len(v) and v.min() < 0:
        v = np.abs(v)
    _check(v, signed)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(-600, 600), min_size=1, max_size=2000),
       st.booleans())
def test_parity_runs_and_smalls(vals, signed):
    """Small values with hypothesis-shrunk run structures: exercises the
    fixed-run / literal-buffer interaction around 512 boundaries."""
    v = np.repeat(np.array(vals, dtype=np.int64),
                  1 + (np.abs(np.array(vals)) % 7))
    if not signed and len(v) and v.min() < 0:
        v = np.abs(v)
    _check(v, signed)


@pytest.mark.parametrize("seed", range(4))
def test_parity_mixture_corpus(seed):
    rng = np.random.default_rng(seed)
    parts = [
        ((rng.zipf(1.3, 20_000) - 1) % 50257),
        np.repeat(rng.integers(0, 100, 200), rng.integers(1, 700, 200)),
        np.sort(rng.integers(0, 10 ** 6, 5000)),
        np.where(rng.random(5000) < 0.03,
                 rng.integers(10 ** 6, 10 ** 7, 5000),
                 rng.integers(0, 512, 5000)),
        rng.integers(-(2 ** 62), 2 ** 62, 2000),
        np.array([I64_MIN, I64_MAX, 0, -1, 1] * 4),
    ]
    v = np.concatenate(parts).astype(np.int64)
    _check(v, True)


def test_parity_512_boundaries():
    for pre in (509, 510, 511, 512):
        for runlen in (3, 4, 10, 11, 511, 512, 513, 1025):
            v = np.concatenate([np.arange(pre) * 3 % 997,
                                np.full(runlen, 7),
                                np.arange(5)]).astype(np.int64)
            _check(v, True)


# ---------------------------------------------------------------------------
# Stream shapes the one-pass unpack must get right: many widths of one
# block kind in a stream, patch words past the u32 word, widths past
# the u64 word, short reads and narrow outputs.
# ---------------------------------------------------------------------------

def _blocks(buf: bytes, n: int, signed: bool) -> list:
    blocks: list = []
    rle_v2_decode_ref(buf, n, signed=signed, blocks=blocks)
    return blocks


def _widths(blocks: list, kind: int) -> set:
    return {w for k, w, _ in blocks if k == kind}


def _patch_word_widths(buf: bytes, blocks: list) -> set:
    """Patch-word width of every PATCHED_BASE block, from its 3rd and
    4th header bytes (`patched_base.rs:38-60`)."""
    from orc_rust_spark.kernels.util import (
        get_closest_fixed_bits, rle_v2_decode_bit_width)
    return {get_closest_fixed_bits(
        rle_v2_decode_bit_width(buf[p + 2] & 0x1F) + (buf[p + 3] >> 5) + 1)
        for k, _, p in blocks if k == _HDR_PATCHED_BASE}


def _token_stream(seed: int) -> np.ndarray:
    """~150k tokens of ``synthesize_tokens_pandas`` parts of 199 docs:
    the benchmark's stripe shape, which has no 100k-400k-token outlier
    docs."""
    from orc_rust_spark.functions.tokens import synthesize_tokens_pandas
    toks, part, total = [], 0, 0
    while total < 150_000:
        for r in synthesize_tokens_pandas(199, seed, part):
            toks.append(r[1])
            total += len(r[1])
        part += 1
    return np.concatenate(toks).astype(np.int64)


@pytest.mark.parametrize("seed", [7, 8])
@pytest.mark.parametrize("signed", [True, False])
def test_parity_token_stripe(seed, signed):
    v = _token_stream(seed)
    buf = rle_v2_encode(v, signed=signed)
    blocks = _blocks(buf, len(v), signed)
    # one stream, PATCHED_BASE data at many widths
    assert len(_widths(blocks, _HDR_PATCHED_BASE)) >= 8
    _check(v, signed)
    np.testing.assert_array_equal(
        rle_v2_decode(buf, len(v), signed=signed, out_dtype=np.int32), v)


def test_parity_patch_word_past_u32():
    """Narrow data with one outlier: its patch word is wider than the
    25 bits a u32 word holds, beside blocks with narrow patch words."""
    rng = np.random.default_rng(3)
    v = rng.integers(0, 200, 4096).astype(np.int64)
    v[100] = 1 << 40                 # one wide patch word
    v[1000::512] = 70_000            # narrow patch words in other blocks
    buf = rle_v2_encode(v, signed=False)
    blocks = _blocks(buf, len(v), False)
    pw = _patch_word_widths(buf, blocks)
    assert max(pw) > 25 and min(pw) <= 25, pw
    _check(v, False)
    _check(v, True)


def test_parity_widths_past_56():
    """DIRECT data and PATCHED_BASE patch words of 64 bits: values that
    cross the u64 word and take bits from a 9th byte."""
    rng = np.random.default_rng(5)
    direct = rng.integers(I64_MIN, I64_MAX, 1500, dtype=np.int64)
    patched = rng.integers(0, 256, 2048).astype(np.int64)
    patched[[17, 600, 1500]] = [1 << 60, (1 << 62) + 12345, (1 << 61) - 1]
    v = np.concatenate([direct, patched])
    buf = rle_v2_encode(v, signed=True)
    blocks = _blocks(buf, len(v), True)
    assert 64 in _widths(blocks, _HDR_DIRECT)
    assert max(_patch_word_widths(buf, blocks)) > 56
    _check(v, True)
    u = np.abs(direct)
    buf_u = rle_v2_encode(u, signed=False)
    assert 64 in _widths(_blocks(buf_u, len(u), False), _HDR_DIRECT)
    _check(u, False)


def test_parity_short_read_overshoots_last_block():
    """``exact=False``: n ends inside the last block; the result is the
    first n values the full decode gives."""
    rng = np.random.default_rng(9)
    v = np.concatenate([np.repeat(rng.integers(0, 50, 40), 7),
                        np.arange(0, 3000, 3),
                        rng.integers(0, 1 << 20, 700),
                        np.where(rng.random(600) < 0.02, 1 << 30,
                                 rng.integers(0, 64, 600))]).astype(np.int64)
    buf = rle_v2_encode(v, signed=True)
    full = rle_v2_decode_ref(buf, len(v), signed=True)
    for n in (1, 2, 150, 281, 700, 1999, len(v) - 300, len(v) - 1):
        got = rle_v2_decode(buf, n, signed=True, exact=False)
        np.testing.assert_array_equal(got, full[:n])
    with pytest.raises(ValueError, match="decoded"):
        rle_v2_decode(buf, len(v) - 1, signed=True)


@pytest.mark.parametrize("out_dtype", [np.int16, np.int32])
def test_parity_narrow_out_dtype(out_dtype):
    rng = np.random.default_rng(13)
    hi = np.iinfo(out_dtype).max
    lo = np.iinfo(out_dtype).min
    v = np.concatenate([
        (rng.zipf(1.3, 5000) - 1) % min(hi, 50257),
        np.repeat(rng.integers(lo, hi, 50), rng.integers(1, 40, 50)),
        np.sort(rng.integers(lo, hi, 2000)),
        np.where(rng.random(3000) < 0.03, hi, rng.integers(0, 100, 3000)),
        rng.integers(lo, hi, 1000),
    ]).astype(np.int64)
    for signed in (True, False):
        w = v if signed else (v - lo) // 2
        buf = rle_v2_encode(w, signed=signed)
        got = rle_v2_decode(buf, len(w), signed=signed, out_dtype=out_dtype)
        assert got.dtype == out_dtype
        np.testing.assert_array_equal(
            got, rle_v2_decode_ref(buf, len(w), signed=signed).astype(out_dtype))
        np.testing.assert_array_equal(got, w)


def test_interop_reroutes_unreadable_patched_blocks_to_direct():
    """The zipf stream of `test_write_zipf_tokens_interop_guard` builds
    patched-base blocks whose patch count is 0.  ``interop=True`` sends
    them through the DIRECT emitter: its stream differs, decodes to the
    input and holds only patch counts external readers accept (1..31),
    while ``interop=False`` stays equal to the reference port."""
    rng = np.random.default_rng(11)
    x = ((rng.zipf(1.3, 500_000) - 1) % 50257).astype(np.int32)
    enc = rle_v2_encode(x, signed=True, interop=True)
    plain = rle_v2_encode(x, signed=True, interop=False)
    assert enc != plain
    np.testing.assert_array_equal(rle_v2_decode(enc, len(x)), x)
    blocks = []
    np.testing.assert_array_equal(
        rle_v2_decode_ref(enc, len(x), blocks=blocks), x)
    # the fourth header byte holds the patch count in its low 5 bits
    counts = [enc[p + 3] & 0x1F for kind, _, p in blocks
              if kind == _HDR_PATCHED_BASE]
    assert counts and 1 <= min(counts) and max(counts) <= 31
    assert plain == rle_v2_encode_ref(x, signed=True)
