"""Corrupt-input behavior: malformed stripes must raise clean errors,
never return garbage rows (the reference ships corrupt fixtures under
`tests/integration/data/corrupt/`; same contract here)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.stripes import (
    decode_stripe,
    decode_stripe_rowgroups,
    encode_stripe,
    encode_stripe_rowgroups,
    stripe_num_rows,
    unwrap_compressed,
    wrap_compressed,
)


def _blob():
    rng = np.random.default_rng(0)
    b = pa.record_batch({
        "k": pa.array(np.arange(5000, dtype=np.int64)),
        "s": pa.array([f"row{i}" for i in range(5000)]),
        "f": pa.array(rng.standard_normal(5000)),
    })
    return encode_stripe(b)


def test_bad_magic():
    blob = _blob()
    with pytest.raises(ValueError, match="magic"):
        decode_stripe(b"XXXX" + blob[4:])


def test_truncated_blob():
    blob = _blob()
    for cut in (len(blob) // 2, len(blob) - 7, 10):
        with pytest.raises(Exception) as ei:
            decode_stripe(blob[:cut])
        assert isinstance(ei.value, (ValueError, IndexError))


def test_overlong_stream_length():
    blob = bytearray(_blob())
    ok = decode_stripe(bytes(blob))
    assert ok.num_rows == 5000
    # inflate a directory length varint high byte: find the directory by
    # re-encoding with a poisoned stream table is intrusive; instead chop
    # the payload so the directory's total exceeds the blob
    with pytest.raises(ValueError, match="truncated"):
        decode_stripe(bytes(blob[: len(blob) - 100]))


def test_corrupt_compressed_wrapper():
    blob = _blob()
    wrapped = wrap_compressed(blob, 1)  # zlib
    assert unwrap_compressed(wrapped) == blob
    # flip bytes inside the deflate body -> zlib error, not silent data
    bad = bytearray(wrapped)
    bad[30] ^= 0xFF
    bad[31] ^= 0xFF
    with pytest.raises(Exception):
        decode_stripe(bytes(bad))


def test_rowgroup_truncated():
    b = pa.record_batch({"k": pa.array(np.arange(10_000, dtype=np.int64))})
    blob = encode_stripe_rowgroups(b, group_rows=2000)
    with pytest.raises(Exception) as ei:
        decode_stripe_rowgroups(blob[: len(blob) // 2])
    assert isinstance(ei.value, (ValueError, IndexError))


def test_rowgroup_bad_magic():
    with pytest.raises(ValueError, match="magic"):
        decode_stripe_rowgroups(b"NOPE" + b"\x00" * 64)


def test_num_rows_on_truncated_header():
    blob = _blob()
    assert stripe_num_rows(blob) == 5000
    with pytest.raises(Exception):
        stripe_num_rows(b"OSP1")  # header cut mid-varint


def test_stripe_bytes_deterministic():
    """Resume correctness depends on stripe bytes being a pure function
    of the input rows (BASELINE north_rule: idempotent resume) —
    identical batches must encode to identical blobs across calls."""
    rng = np.random.default_rng(7)
    b = pa.record_batch({
        "k": pa.array(((rng.zipf(1.3, 20_000) - 1) % 50257).astype(np.int32)),
        "s": pa.array([f"doc{i:06d}" for i in range(20_000)]),
        "f": pa.array(rng.standard_normal(20_000)),
    })
    blobs = {encode_stripe(b) for _ in range(3)}
    assert len(blobs) == 1
    grouped = {encode_stripe_rowgroups(b, group_rows=4096) for _ in range(3)}
    assert len(grouped) == 1


@pytest.mark.parametrize("stream", [
    # base varint: 11 continuation bytes, then the delta varint
    bytes([0xC0, 9] + [0x80] * 11 + [0x01, 2]),
    # base varint fine, delta varint: 11 continuation bytes
    bytes([0xC0, 9, 2] + [0x80] * 11 + [0x01]),
], ids=["base", "delta"])
def test_overlong_delta_header_varint(stream):
    """A u64 varint ends within 10 bytes; a DELTA header varint that
    does not is corrupt and must raise, not decode to zeros."""
    from orc_rust_spark.kernels.rle_v2 import rle_v2_decode
    with pytest.raises(ValueError, match="varint"):
        rle_v2_decode(stream, 10)


@pytest.mark.parametrize("atype", [pa.string(), pa.binary()])
def test_string_assembly_rejects_corrupt_lengths(atype):
    """Lengths past the blob, or a negative length (an unsigned LENGTH
    value beyond 2**63) that keeps the last offset inside it."""
    from orc_rust_spark.kernels.assemble import var_array
    lengths = np.array([2, 5], dtype=np.int64)
    assert var_array(lengths, b"abcdefg", atype).to_pylist()[1] in (
        "cdefg", b"cdefg")
    with pytest.raises(pa.ArrowInvalid):
        var_array(lengths, b"abcdef", atype)
    with pytest.raises(pa.ArrowInvalid):
        var_array(np.array([5, -3], dtype=np.int64), b"ab", atype,
                  validity=np.array([True, False, True]), n=3)


def test_string_assembly_rejects_invalid_utf8():
    from orc_rust_spark.kernels.assemble import dict_var_array, var_array
    with pytest.raises(pa.ArrowInvalid):
        var_array(np.array([2], dtype=np.int64), b"\xff\xfe", pa.string())
    with pytest.raises(pa.ArrowInvalid):
        dict_var_array(np.array([2], dtype=np.int64), b"\xff\xfe",
                       np.zeros(3, dtype=np.int32), pa.string())
    assert var_array(np.array([2], dtype=np.int64), b"\xff\xfe",
                     pa.binary()).to_pylist() == [b"\xff\xfe"]


@pytest.mark.parametrize("decode,block", [
    # LZ4: 8 literals, then a match 16 bytes back
    ("_lz4_block_decompress",
     bytes([0x80]) + b"abcdefgh" + (16).to_bytes(2, "little")
     + bytes([0x10]) + b"Z"),
    # LZ4: a match at offset 0
    ("_lz4_block_decompress",
     bytes([0x40]) + b"abcd" + (0).to_bytes(2, "little")),
    # LZO: 4 literals, then an M2 match 9 bytes back
    ("_lzo1x_decompress",
     bytes([21]) + b"abcd" + bytes([0x40, 1, 0x11, 0, 0])),
    # LZ4: a token promising 8 literals, then only 3
    ("_lz4_block_decompress", bytes([0x80]) + b"abc"),
    # LZO: an initial run promising 8 literals, then only 2
    ("_lzo1x_decompress", bytes([25]) + b"ab"),
])
def test_back_reference_outside_output(decode, block):
    """A back-reference outside the output, or a literal run outside
    the input, is corrupt input and raises."""
    from orc_rust_spark.kernels import compression
    with pytest.raises(ValueError, match="back-reference|literal run"):
        getattr(compression, decode)(block)


def _header_offsets(blob: bytes) -> tuple[list[int], list[int]]:
    """Byte offsets of each column's type code and of each directory
    entry's stream kind in an OSP1 stripe header."""
    from orc_rust_spark.kernels.util import read_varint
    _, pos = read_varint(blob, 4)
    n_cols, pos = read_varint(blob, pos)
    type_at = []
    for _ in range(n_cols):
        ln, pos = read_varint(blob, pos)
        type_at.append(pos + ln)
        _, pos = read_varint(blob, pos + ln + 3)
    n_streams, pos = read_varint(blob, pos)
    kind_at = []
    for _ in range(n_streams):
        _, pos = read_varint(blob, pos)
        kind_at.append(pos)
        _, pos = read_varint(blob, pos + 1)
    return type_at, kind_at


def test_missing_stream_and_unknown_type_code():
    """A directory that lacks a stream a column needs, or a type code
    the decoder does not know, raises ValueError naming it."""
    blob = _blob()
    type_at, kind_at = _header_offsets(blob)
    bad = bytearray(blob)
    bad[kind_at[0]] = 7  # column 0's DATA stream becomes an unknown kind
    with pytest.raises(ValueError, match="no stream of kind 1 for column 0"):
        decode_stripe(bytes(bad))
    bad = bytearray(blob)
    bad[type_at[2]] = 99
    with pytest.raises(ValueError, match="unknown stripe type code 99"):
        decode_stripe(bytes(bad))


def test_overlapping_back_references_still_decode():
    from orc_rust_spark.kernels.compression import (
        _lz4_block_decompress, _lzo1x_decompress)
    # a 5-byte match 2 bytes back copies bytes it is still writing
    assert _lz4_block_decompress(
        bytes([0x41]) + b"abcd" + (2).to_bytes(2, "little")
        + bytes([0x10]) + b"Z") == b"abcdcdcdcZ"
    # an M2 match 1 byte back repeats the last literal
    assert _lzo1x_decompress(
        bytes([21]) + b"abcd" + bytes([0x40, 0, 0x11, 0, 0])) == b"abcdddd"
