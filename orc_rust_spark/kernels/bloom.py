"""ORC bloom filters: the Murmur3-64 / Thomas-Wang hashing and the
bitset test/build used by BLOOM_FILTER (kind 7) and BLOOM_FILTER_UTF8
(kind 8) index streams.

This EXCEEDS the reference, which lists bloom filters as roadmap-only
(`README.md:31-39`); stream layout per `src/proto.rs:162-176`
(BloomFilter / BloomFilterIndex messages) and the public ORC v1
specification.  Hash functions are the public Apache Hive `Murmur3`
64-bit flavor (8-byte blocks, seed 104729) and Thomas Wang's 64-bit
integer mix, as the ORC spec prescribes; correctness is validated
end-to-end, not assumed: every value present in a bloom written by
the trusted ORC C++ writer (pyarrow) tests positive in its column's
bitset, absent values and seed-0 string variants test negative, and
equality reads of pyarrow-written int64 blooms lose no rows
(tests/test_bloom.py).  The older `over1k_bloom.orc` fixture uses a
pre-standard development-era format whose hashing nothing modern
reproduces — `from_proto` recognizes and ignores that shape.

Position derivation mirrors Java int32 semantics exactly:
h1 = low 32 bits (signed), h2 = high 32 bits (signed);
for i in 1..k: c = int32_wrap(h1 + i*h2); if c < 0: c = ~c;
pos = c % num_bits.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F
_M64 = (1 << 64) - 1
DEFAULT_SEED = 104729  # Hive Murmur3.DEFAULT_SEED


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(h: int) -> int:
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _M64
    h ^= h >> 33
    return h


def murmur3_hash64(data: bytes, seed: int = DEFAULT_SEED) -> int:
    """Hive Murmur3.hash64: 64-bit-lane murmur over 8-byte blocks.
    Scalar (predicate-literal side); `murmur3_hash64_many` is the
    vectorized writer-side equivalent."""
    h = seed & _M64
    n = len(data)
    nblocks = n >> 3
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8: i * 8 + 8], "little")
        k = (k * _C1) & _M64
        k = _rotl64(k, 31)
        k = (k * _C2) & _M64
        h ^= k
        h = (_rotl64(h, 27) * 5 + 0x52DCE729) & _M64
    tail = data[nblocks * 8:]
    if tail:
        k1 = 0
        for j in range(len(tail) - 1, -1, -1):
            k1 = (k1 << 8) | tail[j]
        k1 = (k1 * _C1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _M64
        h ^= k1
    h ^= n
    return _fmix64(h)


def _rotl64_vec(x: np.ndarray, r: int) -> np.ndarray:
    return np.left_shift(x, U64(r)) | np.right_shift(x, U64(64 - r))


def _fmix64_vec(h: np.ndarray) -> np.ndarray:
    h = h ^ np.right_shift(h, U64(33))
    h = h * U64(0xFF51AFD7ED558CCD)
    h = h ^ np.right_shift(h, U64(33))
    h = h * U64(0xC4CEB9FE1A85EC53)
    h = h ^ np.right_shift(h, U64(33))
    return h


def murmur3_hash64_many(flat: np.ndarray, starts: np.ndarray,
                        lens: np.ndarray,
                        seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized Hive Murmur3.hash64 over n variable-length byte
    slices of `flat` (uint8): lockstep over 8-byte block positions
    (bounded by the longest value), updating every still-alive slice's
    state per round — O(total bytes) numpy work, no per-value Python.
    Matches the scalar `murmur3_hash64` bit-for-bit (property-tested)."""
    n = len(starts)
    h = np.full(n, seed, dtype=U64)
    if n == 0:
        return h
    starts = starts.astype(np.int64)
    lens = lens.astype(np.int64)
    nblocks = lens >> 3
    max_blocks = int(nblocks.max()) if n else 0
    c1 = U64(_C1)
    c2 = U64(_C2)
    for b in range(max_blocks):
        alive = nblocks > b
        idx = starts[alive] + 8 * b
        k = flat[idx].astype(U64)
        for j in range(1, 8):
            k |= np.left_shift(flat[idx + j].astype(U64), U64(8 * j))
        k = k * c1
        k = _rotl64_vec(k, 31)
        k = k * c2
        ha = h[alive] ^ k
        h[alive] = _rotl64_vec(ha, 27) * U64(5) + U64(0x52DCE729)
    # tails: remaining 0..7 bytes assembled little-endian
    rem = lens & 7
    has_tail = rem > 0
    if has_tail.any():
        tstart = starts[has_tail] + 8 * nblocks[has_tail]
        trem = rem[has_tail]
        k1 = np.zeros(int(has_tail.sum()), dtype=U64)
        for j in range(7):
            m = trem > j
            k1[m] |= np.left_shift(flat[tstart[m] + j].astype(U64),
                                   U64(8 * j))
        k1 = k1 * c1
        k1 = _rotl64_vec(k1, 31)
        k1 = k1 * c2
        h[has_tail] ^= k1
    h ^= lens.astype(U64)
    return _fmix64_vec(h)


def wang_hash64(vals: np.ndarray) -> np.ndarray:
    """Thomas Wang's 64-bit integer mix — what ORC bloom filters use
    for LONG-family values (`BloomFilter.getLongHash` in the public
    Java implementation; the ORC v1 spec's stated long hash).

    Java's `>>` is an arithmetic shift on a signed long, so the mix
    runs in int64 with wrapping adds and returns the bits as uint64.
    The C++ writer matches this since 1.6.12 (ORC-1024).  Validated
    against int64 blooms from ORC C++ 2.0 (pyarrow: 5/5 present values
    positive, 0 of 100 absent ones) and ORC Java 2.2 (Spark: no eq read
    of keys in [-1000, 1000) loses a row)."""
    k = np.asarray(vals).astype(np.int64)
    with np.errstate(over="ignore"):
        k = (~k) + (k << 21)
        k = k ^ (k >> 24)
        k = (k + (k << 3)) + (k << 8)
        k = k ^ (k >> 14)
        k = (k + (k << 2)) + (k << 4)
        k = k ^ (k >> 28)
        k = k + (k << 31)
    return k.view(U64)


class BloomFilter:
    """One row group's bloom filter: k hash functions over a bitset of
    64-bit words (little-endian bit order within a word, as Java's
    long[] bitset sets `1L << pos`)."""

    def __init__(self, k: int, words: np.ndarray):
        self.k = int(k)
        self.words = np.ascontiguousarray(words, dtype=U64)
        self.num_bits = 64 * len(self.words)

    # -- construction ------------------------------------------------
    @classmethod
    def build(cls, expected_n: int, fpp: float = 0.05) -> "BloomFilter":
        """Java BloomFilter sizing: m = ceil(-n ln(fpp)/ln(2)^2) rounded
        up to a multiple of 64; k = max(1, round(m/n * ln 2))."""
        import math
        expected_n = max(1, int(expected_n))
        m = int(math.ceil(-expected_n * math.log(fpp)
                          / (math.log(2) ** 2)))
        m = ((m + 63) // 64) * 64
        k = max(1, int(round(m / expected_n * math.log(2))))
        return cls(k, np.zeros(m // 64, dtype=U64))

    @classmethod
    def from_proto(cls, pb: dict) -> "BloomFilter | None":
        """BloomFilter message ({field: [values]} from _pb_parse):
        field 1 = numHashFunctions, field 2 = repeated fixed64 bitset
        (kind 7), field 3 = utf8bitset bytes (kind 8, little-endian
        u64 words).

        Development-era Hive writers (e.g. the over1k_bloom.orc
        fixture, writerVersion HIVE-8732) used a pre-standard shape:
        field 1 = expectedEntries, field 2 = the fpp DOUBLE as one
        fixed64, field 3 = the bitset as repeated VARINT words.  Those
        predate the standardized hashing (empirically: no Murmur3/Wang
        variant reproduces their set bits, and modern Java readers
        cannot use them either — field 1 parses as numHashFunctions =
        10000), so they are recognized by field 3 arriving as ints
        (wire 0) and explicitly IGNORED: pruning on an unknown hash
        would silently drop rows."""
        if 3 in pb and pb[3] and isinstance(pb[3][0], int):
            return None
        k = pb.get(1, [0])[0]
        if 3 in pb and pb[3] and len(pb[3][0]):
            words = np.frombuffer(pb[3][0], dtype="<u8")
        elif 2 in pb:
            vals = []
            for item in pb[2]:
                if isinstance(item, int):
                    vals.append(item)
                else:  # tolerate packed encoding
                    arr = np.frombuffer(item, dtype="<u8")
                    vals.extend(int(x) for x in arr)
            words = np.array(vals, dtype=U64)
        else:
            return None
        if k <= 0 or len(words) == 0:
            return None
        return cls(k, words)

    # -- positions (Java int32 semantics, vectorized) -----------------
    def _positions(self, h64s: np.ndarray) -> np.ndarray:
        """(n, k) bit positions.  All arithmetic in uint32 with explicit
        wrap; Java's `if (c < 0) c = ~c` is `0xFFFFFFFF - c` unsigned."""
        h = np.asarray(h64s, dtype=U64)
        h1 = (h & U64(0xFFFFFFFF)).astype(np.uint32)
        h2 = np.right_shift(h, U64(32)).astype(np.uint32)
        i = np.arange(1, self.k + 1, dtype=np.uint32)
        c = h1[:, None] + i[None, :] * h2[:, None]  # uint32 wrap
        neg = np.right_shift(c, np.uint32(31)).astype(bool)
        c = np.where(neg, np.uint32(0xFFFFFFFF) - c, c)
        return c.astype(np.int64) % self.num_bits

    def add_hashes(self, h64s: np.ndarray) -> None:
        pos = self._positions(h64s).ravel()
        np.bitwise_or.at(self.words, pos >> 6,
                         np.left_shift(U64(1), (pos & 63).astype(U64)))

    def might_contain_hash(self, h64: int) -> bool:
        pos = self._positions(np.array([h64], dtype=U64))[0]
        bits = np.right_shift(self.words[pos >> 6],
                              (pos & 63).astype(U64)) & U64(1)
        return bool(bits.all())

    def test_hashes(self, h64s: np.ndarray) -> np.ndarray:
        """Vectorized membership test -> bool[n] (True = maybe present)."""
        pos = self._positions(h64s)
        bits = np.right_shift(self.words[pos >> 6],
                              (pos & 63).astype(U64)) & U64(1)
        return bits.all(axis=1)

    # -- serialization (kind 8 / BLOOM_FILTER_UTF8) --------------------
    def to_proto_bytes(self) -> bytes:
        """BloomFilter message with numHashFunctions + utf8bitset."""
        from .util import write_varint
        out = bytearray()
        out += b"\x08"                      # field 1, varint
        write_varint(out, self.k)
        bs = self.words.astype("<u8").tobytes()
        out += b"\x1a"                      # field 3, bytes
        write_varint(out, len(bs))
        out += bs
        return bytes(out)


def hash_arrow_array(arr, type_kind: int) -> np.ndarray | None:
    """Writer-side vectorized hashing of one Arrow array's non-null
    values -> uint64 hashes, or None for unsupported types.  Must agree
    with `hash_value` on every element (property-tested)."""
    import pyarrow as pa
    from ..sources.orc_format import (
        TK_BYTE, TK_SHORT, TK_INT, TK_LONG,
        TK_STRING, TK_VARCHAR, TK_CHAR)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.drop_null()
    if type_kind in (TK_BYTE, TK_SHORT, TK_INT, TK_LONG):
        if len(arr) == 0:
            return np.empty(0, dtype=U64)
        return wang_hash64(arr.cast(pa.int64()).to_numpy())
    if type_kind in (TK_STRING, TK_VARCHAR, TK_CHAR):
        if len(arr) == 0:
            return np.empty(0, dtype=U64)
        a = arr.cast(pa.binary()) if not pa.types.is_binary(arr.type) \
            else arr
        off = np.frombuffer(a.buffers()[1], dtype=np.int32)[
            a.offset: a.offset + len(a) + 1].astype(np.int64)
        flat = np.frombuffer(a.buffers()[2], dtype=np.uint8)
        return murmur3_hash64_many(flat, off[:-1], np.diff(off))
    return None


def hash_value(value, type_kind: int) -> int | None:
    """Hash one predicate literal for an ORC column type kind.

    Only the EXTERNALLY VALIDATED paths are supported: the long-family
    (Thomas Wang with Java's arithmetic shifts, validated 5/5 against
    a pyarrow-written int64 bloom) and utf8 strings (Murmur3-64 seed
    104729, validated 5/5 against the same file's string bloom; seed 0
    tests 0/5, confirming the whole pipeline).  The pre-1.6.12 C++
    writer (`bad_bloom_filter_1.6.11.orc`) hashed longs with logical
    shifts, inconsistently with Java; `OrcMeta.blooms_trusted` refuses
    such files.
    Floats, timestamps, dates, decimals, booleans and binary return
    None — their external hash conventions are unverified here (e.g.
    no fixture proves whether date blooms hash days or millis), and
    pruning on a guessed hash risks silent row loss."""
    from ..sources.orc_format import (  # leaf module, no cycle
        TK_BYTE, TK_SHORT, TK_INT, TK_LONG,
        TK_STRING, TK_VARCHAR, TK_CHAR)
    if type_kind in (TK_BYTE, TK_SHORT, TK_INT, TK_LONG):
        if isinstance(value, bool) or not isinstance(value, (int,
                                                             np.integer)):
            return None
        # literals outside int64 can never be present in an int column;
        # decline to prune (None) rather than overflow building np.int64
        if not (-(1 << 63) <= int(value) < (1 << 63)):
            return None
        return int(wang_hash64(np.array([value], dtype=np.int64))[0])
    if type_kind in (TK_STRING, TK_VARCHAR, TK_CHAR):
        if not isinstance(value, str):
            return None
        return murmur3_hash64(value.encode("utf-8"))
    return None
