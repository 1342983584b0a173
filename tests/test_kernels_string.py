"""String direct/dictionary (through the stripe codec) + float codec tests."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from orc_rust_spark.kernels.float_codec import float_decode, float_encode
from orc_rust_spark.stripes import (
    C_STRING_DICT,
    C_STRING_DIRECT,
    K_DICT_DATA,
    _encode_string_auto,
    decode_stripe,
    encode_stripe,
)


def _stripe_roundtrip(vals: list[bytes]) -> list[bytes]:
    batch = pa.record_batch([pa.array(vals, pa.binary())], names=["s"])
    return decode_stripe(encode_stripe(batch)).column("s").to_pylist()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=24), min_size=1, max_size=64))
def test_string_direct_roundtrip(vals):
    # <= 64 values of <= 1536 bytes in all: below both the dictionary
    # and the FSST attempt thresholds, so the column is always direct
    assert _encode_string_auto(pa.array(vals, pa.binary()))[0] == C_STRING_DIRECT
    assert _stripe_roundtrip(vals) == vals


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from([b"abc", b"efgh", b"", b"zz", "é中".encode()]),
                min_size=65, max_size=300))
def test_string_dict_roundtrip(vals):
    assert _stripe_roundtrip(vals) == vals


def test_string_dict_sorted():
    # ORC requires the dictionary blob sorted (string.rs:205-207)
    codec, _, streams = _encode_string_auto(pa.array([b"efgh", b"abc"] * 40))
    assert codec == C_STRING_DICT
    assert streams[K_DICT_DATA] == b"abcefgh"


@settings(max_examples=50, deadline=None)
@given(st.lists(st.floats(allow_nan=False, width=64), min_size=1, max_size=200))
def test_float64_roundtrip(vals):
    a = np.array(vals, dtype=np.float64)
    assert (float_decode(float_encode(a), len(a), np.float64) == a).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.floats(allow_nan=False, width=32), min_size=1, max_size=200))
def test_float32_roundtrip(vals):
    a = np.array(vals, dtype=np.float32)
    assert (float_decode(float_encode(a), len(a), np.float32) == a).all()
