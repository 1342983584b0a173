"""Shared integer-codec primitives: zigzag, varint and the ORC
bit-width tables.

Behaviour mirrors the reference `src/encoding/integer/util.rs` and
`src/encoding/integer/mod.rs` (see each function's citation).  All
vectorized functions operate in the uint64 domain: a zigzagged or
base-reduced value is always non-negative and fits in 64 bits, so a
single uint64 implementation is bit-equivalent for the i16/i32/i64
specializations of the reference; zigzag alone keeps int32 <-> uint32
in 32 bits, which halves the traffic of the int32 token path.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
I64 = np.int64

I64_MIN = -(1 << 63)
I64_MAX = (1 << 63) - 1

class ValueSpan:
    """An RLE stream positioned mid-run, as ORC row-index positions
    describe it: `buf` starts at a run-boundary byte offset and the
    first `skip` decoded values belong to the previous row group — the
    reference's decoder `skip(n)` seek contract
    (`src/encoding/mod.rs:54-55`).  Decoders decode ``skip + n`` values
    and discard the prefix (a skip is bounded by one run: <=512 values
    for RLEv2, <=130 for byte-RLE)."""

    __slots__ = ("buf", "skip")

    def __init__(self, buf, skip: int):
        self.buf = buf
        self.skip = skip


def unwrap_span(buf) -> tuple[object, int]:
    if isinstance(buf, ValueSpan):
        return buf.buf, buf.skip
    return buf, 0


# ---------------------------------------------------------------------------
# bits_used — reference `mod.rs:124-126`: BYTE_SIZE*8 - leading_zeros
# ---------------------------------------------------------------------------

# bit length of every byte value 0..255
_BYTE_BITS = np.zeros(256, dtype=np.uint8)
for _b in range(1, 256):
    _BYTE_BITS[_b] = _b.bit_length()


def bits_used_scalar(v: int) -> int:
    """Bit length of a non-negative value (0 -> 0)."""
    return int(v).bit_length()


_IOTA32 = np.empty(0, dtype=np.int32)
# 64M entries = 256 MiB: the cache never holds more per process
IOTA32_CAP = 1 << 26


def iota32(n: int) -> np.ndarray:
    """A read-only view of [0, n) as int32, served from a per-process
    cache that grows monotonically up to `IOTA32_CAP` entries.  The
    decode hot loops build a fancy index per block group
    (`arange(total) + repeat(...)`); reusing one iota buffer turns that
    arange's full-length write pass into a read of an already-resident
    buffer — pure memory-traffic savings, which is the decode scaling
    bottleneck at >1 core.  A request over the cap gets a fresh
    `np.arange` and leaves the cache as it is.  Callers must treat the
    result as immutable (add into a separate output instead).

    Assumes one thread per process, as in a Spark Python worker: the
    check-then-grow of the module-level cache is not locked."""
    global _IOTA32
    if n > IOTA32_CAP:
        return np.arange(n, dtype=np.int32)
    if len(_IOTA32) < n:
        _IOTA32 = np.arange(max(n, 1 << 16), dtype=np.int32)
        _IOTA32.setflags(write=False)
    return _IOTA32[:n]


def bits_used(values: np.ndarray) -> np.ndarray:
    """Vectorized bit length for a uint array (exact for all 64 bits).

    float64 frexp gives the exponent up to rounding; conversion is exact
    below 2^53, so the one-compare correction pass only runs when the
    input can actually carry >53 significant bits.  uint32/uint16 inputs
    convert to float64 directly (no uint64 upcast copy) — the narrow
    int32 token path stays 2 passes total.
    """
    v = np.asarray(values)
    if v.dtype in (np.uint32, np.uint16, np.uint8):
        # frexp's exponent output is already int32; keep it narrow (the
        # result is only used as a LUT index)
        return np.frexp(v.astype(np.float64))[1]
    v = np.ascontiguousarray(v, dtype=U64)
    bl = np.frexp(v.astype(np.float64))[1].astype(np.int64)
    if v.size == 0 or int(v.max()) < (1 << 53):
        return bl
    np.minimum(bl, 64, out=bl)
    shift = np.maximum(bl - 1, 0).astype(U64)
    over = (bl > 0) & ((U64(1) << shift) > v)
    bl[over] -= 1
    return bl


# ---------------------------------------------------------------------------
# ORC bit-width encoding tables — reference `util.rs:370-472`
# ---------------------------------------------------------------------------

def rle_v2_decode_bit_width(encoded: int) -> int:
    """5-bit header code -> bit width (`util.rs:370-384`)."""
    if encoded <= 23:
        return encoded + 1
    return {24: 26, 25: 28, 26: 30, 27: 32, 28: 40, 29: 48, 30: 56, 31: 64}[encoded]


def rle_v2_encode_bit_width(width: int) -> int:
    """Bit width -> 5-bit header code; width must be aligned (`util.rs:391-405`)."""
    if 1 <= width <= 24:
        return width - 1
    return {26: 24, 28: 25, 30: 26, 32: 27, 40: 28, 48: 29, 56: 30, 64: 31}[width]


def get_closest_fixed_bits(n: int) -> int:
    """Round up to the nearest ORC fixed bit width (`util.rs:407-421`)."""
    if n == 0:
        return 1
    if n <= 24:
        return n
    for cap in (26, 28, 30, 32, 40, 48, 56, 64):
        if n <= cap:
            return cap
    raise ValueError(f"bit width {n} out of range")


def encode_bit_width(n: int) -> int:
    """Round to fixed bits then map to the 5-bit code (`util.rs:423-437`)."""
    return rle_v2_encode_bit_width(get_closest_fixed_bits(n))


def get_closest_aligned_bit_width(width: int) -> int:
    """Round up to 1/2/4 or a byte multiple (`util.rs:456-472`).

    Note the reference quirk: widths 49..=54 map to 56, 55..=64 map to 64
    (55/56 go to 64, unlike a plain round-to-multiple-of-8).
    """
    if width <= 1:
        return 1
    if width == 2:
        return 2
    if width <= 4:
        return 4
    if width <= 48:
        return ((width + 7) // 8) * 8
    if width <= 54:
        return 56
    if width <= 64:
        return 64
    raise ValueError(f"bit width {width} out of range")


# vectorized lookup tables (index = bit length 0..64)
_ALIGNED_WIDTH_LUT = np.array(
    [get_closest_aligned_bit_width(w) for w in range(65)], dtype=np.int64
)
_FIXED_BITS_LUT = np.array(
    [get_closest_fixed_bits(w) for w in range(65)], dtype=np.int64
)
_ENCODE_BIT_WIDTH_LUT = np.array([encode_bit_width(w) for w in range(65)], dtype=np.int64)


# ---------------------------------------------------------------------------
# Zigzag — reference `util.rs:534-553`
# ---------------------------------------------------------------------------

def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Signed ints -> zigzag, (v << 1) ^ (v >> bits-1).  int32 stays in
    32 bits (uint32 out); any other input runs as int64 -> uint64.  The
    wrapping shift and the arithmetic right shift (the all-ones /
    all-zeros mask) run in the signed dtype, then reinterpret."""
    v = np.asarray(values)
    if v.dtype != np.int32:
        v = v.astype(I64, copy=False)
    zz = np.left_shift(v, 1)
    np.bitwise_xor(zz, np.right_shift(v, 8 * v.dtype.itemsize - 1), out=zz)
    return zz.view(np.uint32 if v.dtype == np.int32 else U64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """Zigzagged uints -> signed: uint32 stays in 32 bits (int32 out);
    any other input runs as uint64 -> int64."""
    u = np.asarray(values)
    if u.dtype != np.uint32:
        u = u.astype(U64, copy=False)
    sdt = np.int32 if u.dtype == np.uint32 else I64
    one = u.dtype.type(1)
    return (u >> one).view(sdt) ^ -(u & one).view(sdt)


def zigzag_encode_scalar(v: int) -> int:
    """Python-int zigzag in 64-bit wrapping semantics."""
    return ((v << 1) & 0xFFFFFFFFFFFFFFFF) ^ ((v >> 63) & 0xFFFFFFFFFFFFFFFF)


def zigzag_decode_scalar(u: int) -> int:
    half = u >> 1
    return half ^ -(u & 1)


# ---------------------------------------------------------------------------
# Base-128 varint — `util.rs:475-532`
# ---------------------------------------------------------------------------

def write_varint(out: bytearray, value: int) -> None:
    """Unsigned LEB128 of any non-negative Python int (int64 streams
    pass < 2^64; decimal mantissa streams may pass int128 values)."""
    byte_size = max((value.bit_length() + 6) // 7, 1)
    for i in range(byte_size - 1):
        out.append(0x80 | ((value >> (7 * i)) & 0x7F))
    out.append((value >> (7 * (byte_size - 1))) & 0x7F)


def read_varint(buf, pos: int) -> tuple[int, int]:
    """Read unsigned LEB128 starting at pos; returns (value, new_pos)."""
    num = 0
    offset = 0
    while True:
        byte = buf[pos]
        pos += 1
        num |= (byte & 0x7F) << offset
        offset += 7
        if byte & 0x80 == 0:
            break
    return num, pos


def write_varint_zigzagged(out: bytearray, value: int, signed: bool) -> None:
    if signed:
        value = zigzag_encode_scalar(value)
    write_varint(out, value)


def read_varint_zigzagged(buf, pos: int, signed: bool) -> tuple[int, int]:
    num, pos = read_varint(buf, pos)
    if signed:
        num = zigzag_decode_scalar(num)
    return num, pos
