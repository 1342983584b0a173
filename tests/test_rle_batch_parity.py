"""Differential parity: the batch-vectorized RLEv2 encoder/decoder must
be byte-/value-identical to the scalar reference port (`rle_v2_encode_ref`
/ `rle_v2_decode_ref`), which itself is golden-vector-checked against the
reference implementation (tests/test_kernels_rle.py)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from orc_rust_spark.kernels.rle_v2 import rle_v2_decode, rle_v2_encode
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
