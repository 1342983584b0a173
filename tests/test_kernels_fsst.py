"""FSST kernel tests: roundtrip (hypothesis + corpus), compression-ratio
floor on text, and stripe-level auto-selection."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from orc_rust_spark.kernels.fsst import fsst_compress, fsst_decompress
from orc_rust_spark.stripes import decode_stripe, encode_stripe


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=4000))
def test_roundtrip_random(blob):
    assert fsst_decompress(fsst_compress(blob)) == blob


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from(["the", "table", "scan", "join", "stream",
                                 "spark", "batch", "a", "zz"]),
                min_size=0, max_size=400))
def test_roundtrip_wordlike(words):
    blob = " ".join(words).encode()
    assert fsst_decompress(fsst_compress(blob)) == blob


def test_edges():
    for blob in [b"", b"a", b"ab" * 5000, bytes(range(256)) * 10,
                 b"\xff" * 100, b"\x00" * 1000]:
        assert fsst_decompress(fsst_compress(blob)) == blob


def test_text_ratio():
    rng = np.random.default_rng(0)
    words = np.array(["the", "quick", "brown", "fox", "jumps", "over",
                      "lazy", "dog", "stream", "spark"])
    blob = " ".join(rng.choice(words, 5000)).encode()
    comp = fsst_compress(blob)
    assert len(comp) * 2 < len(blob)  # at least 2x on word-repetitive text


def test_stripe_selects_fsst_for_text():
    rng = np.random.default_rng(1)
    words = np.array(["alpha", "beta", "gamma", "delta", "epsilon"])
    texts = [" ".join(rng.choice(words, 40)) for _ in range(500)]
    batch = pa.record_batch([pa.array(texts)], names=["text"])
    blob = encode_stripe(batch)
    assert b'"text"' not in blob  # header is binary, just sanity
    rb = decode_stripe(blob)
    assert rb.column("text").to_pylist() == texts
    assert len(blob) * 2 < batch.nbytes


def test_block_compression_roundtrip():
    import numpy as np
    from orc_rust_spark.kernels.compression import (
        K_ZLIB, compress_stream, decompress_stream)
    rng = np.random.default_rng(0)
    compressible = b"spark stripe stream " * 50_000  # ~1MB, multi-block
    incompressible = rng.integers(0, 256, 300_000, dtype=np.uint8).tobytes()
    for blob in [b"", b"x", compressible, incompressible]:
        enc = compress_stream(blob, K_ZLIB)
        assert decompress_stream(enc, K_ZLIB) == blob
    assert len(compress_stream(compressible, K_ZLIB)) < len(compressible) // 10


def test_stripe_block_compression_wrap():
    import pyarrow as pa
    from orc_rust_spark.kernels.compression import K_ZLIB
    from orc_rust_spark.stripes import unwrap_compressed, wrap_compressed
    batch = pa.record_batch([pa.array(["word " * 50] * 200)], names=["text"])
    blob = encode_stripe(batch)
    wrapped = wrap_compressed(blob, K_ZLIB)
    assert unwrap_compressed(wrapped) == blob
    rb = decode_stripe(wrapped)  # decode handles wrapped blobs directly
    assert rb.column("text").to_pylist() == batch.column("text").to_pylist()


def test_timestamp_two_stream_roundtrip():
    import numpy as np
    from orc_rust_spark.kernels.timestamp_decimal import (
        timestamp_decode, timestamp_encode)
    rng = np.random.default_rng(0)
    cases = [
        rng.integers(-10**18, 10**18, 2000),
        np.array([0, 1, 10**9, -10**9, -10**9 + 500, 1_420_070_400 * 10**9]),
        rng.integers(0, 10**10, 500) * 1000,   # micro-precision
        rng.integers(0, 10**7, 500) * 10**9,   # whole seconds
    ]
    for ns in cases:
        ns = ns.astype(np.int64)
        data, sec = timestamp_encode(ns)
        out = timestamp_decode(data, sec, len(ns))
        np.testing.assert_array_equal(out, ns)
    # ORC-763 hole: instants in (-1s, 0) with nanos > 999_999 cannot be
    # represented; the encoder refuses rather than corrupting
    import pytest
    with pytest.raises(ValueError):
        timestamp_encode(np.array([-1], dtype=np.int64))


def test_decimal_decode():
    from orc_rust_spark.kernels.rle_v2 import rle_v2_encode
    from orc_rust_spark.kernels.timestamp_decimal import decimal_decode
    from orc_rust_spark.kernels.util import write_varint_zigzagged
    import numpy as np
    mantissas = [0, 1, -1, 12345, -99999999999, 10**17]
    scales = [2, 2, 0, 4, 2, 6]
    data = bytearray()
    for m in mantissas:
        write_varint_zigzagged(data, m, True)
    sec = rle_v2_encode(np.array(scales), signed=True)
    out = decimal_decode(bytes(data), sec, len(mantissas), target_scale=2)
    # rescale semantics: value * 10^(target-scale); downscale truncates
    # toward zero like i128 division (decimal.rs fix_i128_scale)
    def trunc_div(m, p):
        q = abs(m) // p
        return -q if m < 0 else q
    exp = [m * 10 ** (2 - s) if s <= 2 else trunc_div(m, 10 ** (s - 2))
           for m, s in zip(mantissas, scales)]
    assert out == exp


def test_decimal_decode_negative_downscale():
    """Negative mantissas with varying_scale > target_scale must
    truncate toward zero: -15 at scale diff 1 decodes to -1 (the
    reference's i128 division), not floor's -2."""
    from orc_rust_spark.kernels.rle_v2 import rle_v2_encode
    from orc_rust_spark.kernels.timestamp_decimal import decimal_decode
    from orc_rust_spark.kernels.util import write_varint_zigzagged
    import numpy as np
    mantissas = [-15, -19, -10, -99999999999, 15]
    scales = [3, 3, 3, 5, 3]
    data = bytearray()
    for m in mantissas:
        write_varint_zigzagged(data, m, True)
    sec = rle_v2_encode(np.array(scales), signed=True)
    out = decimal_decode(bytes(data), sec, len(mantissas), target_scale=2)
    assert out == [-1, -1, -1, -99999999, 1]


def test_sliced_batch_string_encode():
    """Regression: stripes built from SLICED record batches (offset > 0)
    must read string offsets relative to the slice, not the buffer."""
    import numpy as np
    rng = np.random.default_rng(2)
    words = np.array(["alpha", "beta", "gamma", "delta"])
    texts = [f"doc{i:06d} " + " ".join(rng.choice(words, 10)) for i in range(3000)]
    low_card = [str(rng.integers(0, 4)) for _ in range(3000)]
    full = pa.record_batch([pa.array(texts), pa.array(low_card)],
                           names=["text", "cat"])
    for start, length in [(0, 1000), (700, 1000), (2500, 500), (2999, 1)]:
        part = full.slice(start, length)
        rb = decode_stripe(encode_stripe(part))
        assert rb.column("text").to_pylist() == part.column("text").to_pylist()
        assert rb.column("cat").to_pylist() == part.column("cat").to_pylist()


def test_fsst_escaped_0xff_literals():
    """Regression: a literal 0xFF byte after an escape must not be
    parsed as another escape marker (run-parity detection)."""
    import numpy as np
    rng = np.random.default_rng(3)
    base = b"the quick brown fox jumps over the lazy dog " * 100
    raw = bytearray(base)
    # sprinkle rare high bytes (incl. 0xFF) the symbol table won't learn
    for pos in rng.integers(0, len(raw), 60):
        raw[pos] = int(rng.integers(250, 256))
    for blob in [bytes(raw), b"a\xff" * 7 + b"irregular \xff\xff\xff tail",
                 b"\xff" + b"word " * 300 + b"\xff\xff"]:
        assert fsst_decompress(fsst_compress(blob)) == blob


def test_frontier_parse_identical_to_sequential():
    """The lockstep frontier parse (pass A speculation + pass B resync)
    must reproduce the single-chain greedy parse byte-for-byte."""
    from orc_rust_spark.kernels import fsst as F

    rng = np.random.default_rng(17)
    text = (b"the quick brown fox jumps over the lazy dog " * 4000
            + bytes(rng.integers(0, 256, 20000).astype(np.uint8)))
    data = np.frombuffer(text, dtype=np.uint8)
    tbl = F.train(data)
    seq = F._parse(data, tbl)
    for seg in (256, 512, 1000):
        old = F._SEG
        try:
            F._SEG = seg
            assert np.array_equal(F._parse_frontier(data, tbl), seq)
        finally:
            F._SEG = old


def test_frontier_parse_escape_heavy():
    from orc_rust_spark.kernels import fsst as F

    rng = np.random.default_rng(23)
    data = rng.integers(0, 256, 200000).astype(np.uint8)
    tbl = F.train(data)
    assert np.array_equal(F._parse(data, tbl), F._parse_frontier(data, tbl))
    comp = F.fsst_compress_with(data, tbl)
    assert F.fsst_decompress(comp) == data.tobytes()


def test_frontier_parse_overrun_into_tiny_final_segment():
    """A chain's final match may overrun into (and fully consume) a
    short last segment; the next chain then starts at its own end and
    must emit nothing."""
    from orc_rust_spark.kernels import fsst as F

    base = b"abcdefgh" * (F._SEG // 8)  # highly symbolizable
    rng = np.random.default_rng(31)
    for tail in range(1, 9):
        for seed in range(3):
            mix = bytes(rng.integers(97, 105, F._SEG).astype(np.uint8))
            data = np.frombuffer((base + mix)[: F._SEG + tail], np.uint8)
            tbl = F.train(np.frombuffer(base, np.uint8))
            seq = F._parse(data, tbl)
            got = F._parse_frontier(data, tbl)
            assert np.array_equal(got, seq), (tail, seed)


def test_frontier_parse_consecutive_unsynced_chains():
    """Regular text whose fix-up walks miss the speculative chain in
    two neighbouring segments: the chain after a re-walked run must
    start from the corrected stop, or a byte is dropped at the
    segment boundary."""
    from orc_rust_spark.kernels import fsst as F

    rng = np.random.default_rng(11)
    blob = "".join(f"row{x:06d}-{int(r)}" for x, r in
                   enumerate(rng.integers(0, 1 << 40, 9000))).encode()
    data = np.frombuffer(blob, dtype=np.uint8)
    tbl = F.train(data)
    assert np.array_equal(F._parse_frontier(data, tbl), F._parse(data, tbl))
    assert fsst_decompress(fsst_compress(blob)) == blob
