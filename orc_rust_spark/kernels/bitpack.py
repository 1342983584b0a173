"""MSB-first big-endian bit-packing of non-negative integers.

Byte-compatible with the reference writers/readers in
`src/encoding/integer/util.rs:44-362` (read_ints, write_aligned_packed_ints,
write_packed_ints).  The reference's aligned fast paths (widths 1/2/4 and
byte multiples) and the general unaligned path all produce one MSB-first
concatenated bit stream with the final byte zero-padded in its low bits;
a single vectorized implementation therefore covers both.
"""

from __future__ import annotations

import numpy as np

from .util import U64, iota32


def pack_ints(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative ints at `width` bits each, MSB-first across
    bytes.  uint32 input stays in the 32-bit domain for width <= 32 —
    the u64 upcast was pure memory traffic on the int32 token path."""
    v = np.ascontiguousarray(values)
    if v.dtype != U64 and not (v.dtype == np.uint32 and width <= 32):
        v = v.astype(U64)
    n = len(v)
    if n == 0:
        return b""
    if width % 8 == 0:
        # byte-aligned: big-endian bytes truncated to width/8 low bytes.
        # exact-container fast paths (8/16/32/64) skip the 8-byte
        # intermediate — w=16 is the token hot path
        if width == 8:
            return v.astype(np.uint8).tobytes()
        if width == 16:
            return v.astype(">u2").tobytes()
        if width == 32:
            return v.astype(">u4").tobytes()
        if width == 64:
            return v.astype(">u8").tobytes()
        nbytes = width // 8
        if v.dtype == np.uint32:
            be = v.astype(">u4").view(np.uint8).reshape(n, 4)
            return be[:, 4 - nbytes:].tobytes()
        be = v.astype(">u8").view(np.uint8).reshape(n, 8)
        return be[:, 8 - nbytes :].tobytes()
    # general path: one segment through the u64/u32 group fold
    lens = np.array([n], dtype=np.int64)
    offs = np.array([0, (n * width + 7) // 8], dtype=np.int64)
    if v.dtype == np.uint32:
        return _pack_groups4(v, lens, width, offs)
    return _pack_groups8(v, lens, width, offs)


def unpack_ints(buf, pos: int, n: int, width: int) -> tuple[np.ndarray, int]:
    """Unpack n uint64 values of `width` bits from buf starting at pos.

    Returns (values, new_pos).
    """
    if n == 0:
        return np.empty(0, dtype=U64), pos
    total = (n * width + 7) // 8
    if width in (8, 16, 32, 64):
        be = np.dtype(np.uint8 if width == 8 else f">u{width // 8}")
        return np.frombuffer(buf, be, n, pos).astype(U64), pos + total
    raw = np.zeros(total + 8, dtype=np.uint8)
    raw[:total] = np.frombuffer(buf, np.uint8, total, pos)
    vals = unpack_segments(raw, [0], [width], [n])
    return vals.astype(U64, copy=False), pos + total


def unpack_segments(buf: np.ndarray, starts: np.ndarray, widths: np.ndarray,
                    counts: np.ndarray) -> np.ndarray:
    """Unpack every segment in one pass, whatever its width: segment k
    is counts[k] values of widths[k] (1-64) bits, packed MSB-first from
    byte starts[k] of the uint8 array `buf`, which must hold 8 readable
    bytes past the end of the last segment.  Returns the concatenated
    values: uint32 when every width is <= 25, else uint64.

    Value j of segment k starts at bit o = 8*starts[k] + j*widths[k].
    The big-endian word at byte o >> 3, shifted left by o & 7, holds the
    value in its top bits: a u32 word suffices up to 25 bits (7 + 25 =
    32), a u64 word up to 56, and wider values also take the top o & 7
    bits of the 9th byte.  A right shift by word bits - width leaves the
    value.  No per-width loop: a stream's blocks of every width cost the
    same ~10 array passes as one block."""
    starts = np.asarray(starts, dtype=np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    wmax = int(widths.max(initial=0))
    wdt = np.uint32 if wmax <= 25 else U64
    word_bits = 8 * np.dtype(wdt).itemsize
    n = int(counts.sum())
    if n == 0:
        return np.empty(0, dtype=wdt)
    first = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    # big-endian word starting at every byte of buf (a strided view)
    be = np.dtype(wdt).newbyteorder(">")
    words = np.ndarray((len(buf) - be.itemsize + 1,), dtype=be,
                       buffer=buf, strides=(1,))
    if int(widths.min()) == wmax:
        off = np.repeat(8 * starts - first * wmax, counts)
        off += np.arange(0, n * wmax, wmax)
        rshift = wdt(word_bits - wmax)
    else:
        per_value = np.repeat(widths, counts)
        off = np.repeat(8 * starts - first * widths, counts)
        off += np.arange(n) * per_value
        rshift = (word_bits - per_value).astype(wdt)
    lshift = np.bitwise_and(off, 7, out=np.empty(n, dtype=wdt),
                            casting="unsafe")
    off >>= 3
    vals = words.take(off).astype(wdt)
    vals <<= lshift
    if wmax > 56:
        ninth = buf[8:].take(off).astype(U64)
        ninth >>= U64(8) - lshift
        vals |= ninth
    vals >>= rshift
    return vals


def pack_ints_segmented(values: np.ndarray, lens: np.ndarray,
                        width: int) -> tuple[bytes, np.ndarray]:
    """Pack consecutive segments (lens[i] values each) independently at
    `width` bits, each segment zero-padded to its own byte boundary —
    i.e. the concatenation of per-segment `pack_ints` results, computed
    in one vectorized pass.  Returns (blob, byte_offsets[K+1])."""
    v = np.ascontiguousarray(values)
    if v.dtype != U64 and not (width <= 32 and v.dtype == np.uint32):
        v = v.astype(U64)
    K = len(lens)
    offs = np.zeros(K + 1, dtype=np.int64)
    if width % 8 == 0:
        np.cumsum(lens * (width // 8), out=offs[1:])
        return pack_ints(v, width), offs
    byte_lens = (lens * width + 7) // 8
    np.cumsum(byte_lens, out=offs[1:])
    n = len(v)
    if n == 0:
        return b"", offs
    if v.dtype == np.uint32:
        return _pack_groups4(v, lens, width, offs), offs
    return _pack_groups8(v, lens, width, offs), offs


def _pack_groups8(v: np.ndarray, lens: np.ndarray, width: int,
                  offs: np.ndarray) -> bytes:
    """Segmented pack for any non-byte-aligned width via u64 group
    assembly: 8 values of w bits are exactly w bytes, so each zero-padded
    8-value group folds into ceil(w/8) u64 words with 8 shift-adds over
    n/8-sized arrays — far less memory traffic than a per-bit scatter
    (`width` passes over n-sized index arrays; at w=17..23, the vocab
    zigzag widths of token streams, that was most of direct-block cost).
    A value of width <= 64 bits straddles at most two adjacent words, so
    every (i, word) shift pair is a compile-time constant of the loop.

    The common shape — every segment a multiple of 8 values (512-value
    RLEv2 blocks) — skips the padding scatter and truncation mask
    entirely; those index arrays were most of the path's cost."""
    K = len(lens)
    n = len(v)
    aligned_lens = bool((lens % 8 == 0).all())
    if aligned_lens:
        n_pad = n
        pv = v.astype(U64, copy=False)
    else:
        groups = (lens + 7) // 8
        n_pad = int(groups.sum()) * 8
        it = np.int32 if n_pad < 2**31 else np.int64
        pv = np.zeros(n_pad, dtype=U64)
        pstart = np.zeros(K, dtype=it)
        np.cumsum((groups[:-1] * 8).astype(it), out=pstart[1:])
        starts = np.zeros(K, dtype=it)
        np.cumsum(lens[:-1].astype(it), out=starts[1:])
        tgt = np.repeat(pstart - starts, lens)
        tgt += iota32(n) if it is np.int32 else np.arange(n, dtype=it)
        pv[tgt] = v  # upcasts u32 -> u64 in one pass
    gm = pv.reshape(-1, 8)
    if width <= 8:
        # value i occupies bits [64 - (i+1)*w, 64 - i*w) of one u64
        word = gm[:, 0] << U64(64 - width)
        for i in range(1, 8):
            word |= gm[:, i] << U64(64 - (i + 1) * width)
        gbytes = word.astype(">u8").view(np.uint8).reshape(-1, 8)[:, :width]
    else:
        # 8 values span 8w bits across nw = ceil(w/8) u64 words; value i
        # occupies bits [i*w, (i+1)*w) of the group's big-endian stream
        nw = (width + 7) // 8
        words = [np.zeros(gm.shape[0], dtype=U64) for _ in range(nw)]
        for i in range(8):
            lo, hi = i * width, (i + 1) * width
            wlo, whi = lo // 64, (hi - 1) // 64
            if wlo == whi:
                words[wlo] |= gm[:, i] << U64(64 * (wlo + 1) - hi)
            else:  # straddles a word boundary
                words[wlo] |= gm[:, i] >> U64(hi - 64 * (wlo + 1))
                words[whi] |= gm[:, i] << U64(64 * (whi + 1) - hi)
        gbytes = np.empty((gm.shape[0], width), dtype=np.uint8)
        for j in range(nw):
            take = min(8, width - j * 8)
            bj = words[j].astype(">u8").view(np.uint8).reshape(-1, 8)
            gbytes[:, j * 8: j * 8 + take] = bj[:, :take]
    if aligned_lens:
        return gbytes.tobytes()
    # per-segment truncation: padded groups emit ceil(lens/8)*w bytes,
    # the true segment payload is ceil(lens*w/8) — drop the zero tail
    return _take_true_bytes(gbytes, groups, width, offs).tobytes()



def _take_true_bytes(gbytes: np.ndarray, groups: np.ndarray, width: int,
                     offs: np.ndarray) -> np.ndarray:
    """Per-segment truncation of group-padded pack output: padded groups
    emit ceil(lens/8)*w bytes, the true segment payload is
    ceil(lens*w/8) — gather exactly those bytes (repeat + cached iota +
    one fancy read), replacing the boolean-mask compaction (full
    padded-length compare pass + mask scan)."""
    K = len(groups)
    pad_bytes = groups * width
    true_bytes = np.diff(offs)
    total_pad = int(pad_bytes.sum())
    total_true = int(true_bytes.sum())
    bt = np.int32 if total_pad < 2**31 else np.int64
    bstarts = np.zeros(K, dtype=bt)
    np.cumsum(pad_bytes[:-1].astype(bt), out=bstarts[1:])
    idx = np.repeat(bstarts - offs[:-1].astype(bt), true_bytes)
    idx += iota32(total_true) if bt is np.int32 \
        else np.arange(total_true, dtype=bt)
    return gbytes.reshape(-1)[idx]


def _pack_groups4(v: np.ndarray, lens: np.ndarray, width: int,
                  offs: np.ndarray) -> bytes:
    """u32-word variant of `_pack_groups8` for uint32 input and
    width <= 32 (the int32 token hot path): the 8-value group assembles
    into ceil(width/4) u32 words — half the memory traffic per
    shift-add pass, identical emitted bytes."""
    U32 = np.uint32
    K = len(lens)
    n = len(v)
    aligned_lens = bool((lens % 8 == 0).all())
    if aligned_lens:
        n_pad = n
        pv = v
        groups = None
    else:
        groups = (lens + 7) // 8
        n_pad = int(groups.sum()) * 8
        it = np.int32 if n_pad < 2**31 else np.int64
        pv = np.zeros(n_pad, dtype=U32)
        pstart = np.zeros(K, dtype=it)
        np.cumsum((groups[:-1] * 8).astype(it), out=pstart[1:])
        starts = np.zeros(K, dtype=it)
        np.cumsum(lens[:-1].astype(it), out=starts[1:])
        tgt = np.repeat(pstart - starts, lens)
        tgt += iota32(n) if it is np.int32 else np.arange(n, dtype=it)
        pv[tgt] = v
    gm = pv.reshape(-1, 8)
    nw = (width + 3) // 4
    words = [np.zeros(gm.shape[0], dtype=U32) for _ in range(nw)]
    for i in range(8):
        lo, hi = i * width, (i + 1) * width
        wlo, whi = lo // 32, (hi - 1) // 32
        if wlo == whi:
            words[wlo] |= gm[:, i] << U32(32 * (wlo + 1) - hi)
        else:  # straddles a word boundary
            words[wlo] |= gm[:, i] >> U32(hi - 32 * (wlo + 1))
            words[whi] |= gm[:, i] << U32(32 * (whi + 1) - hi)
    gbytes = np.empty((gm.shape[0], width), dtype=np.uint8)
    for j in range(nw):
        take = min(4, width - j * 4)
        bj = words[j].astype(">u4").view(np.uint8).reshape(-1, 4)
        gbytes[:, j * 4: j * 4 + take] = bj[:, :take]
    if aligned_lens:
        return gbytes.tobytes()
    return _take_true_bytes(gbytes, groups, width, offs).tobytes()
