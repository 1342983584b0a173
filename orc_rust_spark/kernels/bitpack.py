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
    bytes: one `pack_segments` segment."""
    n = len(values)
    out = np.empty((n * width + 7) // 8, dtype=np.uint8)
    pack_segments(values, [0], [n], [width], out, [0])
    return out.tobytes()


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


def pack_segments(src: np.ndarray, starts, counts, widths,
                  out: np.ndarray, dst) -> None:
    """Pack many segments in one call and place them: segment k is the
    counts[k] values of `src` from index starts[k], packed MSB-first at
    widths[k] (1-64) bits, zero-padded to a byte and written to the
    uint8 array `out` at bytes [dst[k], dst[k] + ceil(counts[k] *
    widths[k] / 8)).  No other byte of `out` is written.  Values must
    fit their width.

    Segments are stably sorted by width and their values gathered once;
    each run of equal widths then folds in one `_fold`, and one scatter
    moves every segment's bytes to its dst.  When the segments sit back
    to back in `out` in width order, the folds write there directly.
    uint32 input stays in the 32-bit domain when every width is <= 32."""
    src = np.asarray(src)
    starts, counts, widths, dst = (np.asarray(a, dtype=np.int64)
                                   for a in (starts, counts, widths, dst))
    order = np.argsort(widths, kind="stable")
    s, c, w, d = starts[order], counts[order], widths[order], dst[order]
    nbytes = (c * w + 7) // 8
    cut = (np.flatnonzero(w[1:] != w[:-1]) + 1).tolist()
    runs = list(zip([0, *cut], [*cut, len(w)])) if len(w) else []
    # a non-byte width folds 8-value groups, so its segments are padded
    # with zeros to a multiple of 8 values; whole-byte widths need none
    padc = c.copy()
    for g0, g1 in runs:
        if w[g0] % 8:
            padc[g0:g1] = (c[g0:g1] + 7) & ~7
    npad = int(padc.sum())
    padded = npad != int(c.sum())
    pst = np.zeros(len(c) + 1, dtype=np.int64)
    np.cumsum(padc, out=pst[1:])
    wdt = np.uint32 if src.dtype == np.uint32 \
        and int(w.max(initial=0)) <= 32 else U64
    if not padded and bool((s[1:] == s[:-1] + c[:-1]).all()):
        vals = src[int(s[0]) if len(s) else 0:][:npad].astype(wdt, copy=False)
    else:
        it = np.int32 if max(len(src), npad) < 2**31 else np.int64
        idx = np.repeat((s - pst[:-1]).astype(it), padc)
        idx += iota32(npad) if it is np.int32 else np.arange(npad, dtype=it)
        if padded:  # pad slots read value 0 of src and are then zeroed
            m = padc - c
            pad = np.repeat(pst[1:] - np.cumsum(m), m) \
                + np.arange(int(m.sum()))
            idx[pad] = 0
        vals = src[idx].astype(wdt, copy=False)
        if padded:
            vals[pad] = 0
    # segment k folds into bytes [fst[k], fst[k + 1]) of `folded`: its
    # padc * w / 8 bytes, of which the first nbytes are its own
    fst = np.zeros(len(c) + 1, dtype=np.int64)
    np.cumsum(padc * w // 8, out=fst[1:])
    d0 = int(d[0]) if len(d) else 0
    in_place = not padded and bool((d == d0 + fst[:-1]).all())
    folded = out[d0: d0 + int(fst[-1])] if in_place \
        else np.empty(int(fst[-1]), dtype=np.uint8)
    for g0, g1 in runs:
        _fold(vals[pst[g0]: pst[g1]], int(w[g0]), folded[fst[g0]: fst[g1]])
    if in_place:
        return
    total = int(nbytes.sum())
    it = np.int32 if max(len(out), len(folded)) < 2**31 else np.int64
    first = np.zeros(len(c), dtype=it)
    np.cumsum(nbytes[:-1], out=first[1:])
    j = iota32(total) if it is np.int32 else np.arange(total, dtype=it)
    tgt = np.repeat(d.astype(it) - first, nbytes)
    tgt += j
    if padded:
        take = np.repeat(fst[:-1].astype(it) - first, nbytes)
        take += j
        out[tgt] = folded[take]
    else:
        out[tgt] = folded


def _fold(v: np.ndarray, width: int, out: np.ndarray) -> None:
    """Pack `v` (uint32 or uint64 words) MSB-first at `width` bits into
    the uint8 array `out` of len(v) * width / 8 bytes.  A whole-byte
    width writes each value's low width/8 big-endian bytes.  Otherwise
    len(v) is a multiple of 8: 8 values of w bits are exactly w bytes,
    so each 8-value group folds into ceil(8w / B) B-bit words with 8
    shift-ORs over n/8-sized arrays.  A value straddles at most two
    adjacent words, so every shift is a constant of the loop."""
    if width % 8 == 0:
        nb = width // 8
        if nb in (1, 2, 4, 8):
            out.view(f">u{nb}")[:] = v
        else:
            be = v.astype(v.dtype.newbyteorder(">")).view(np.uint8)
            out.reshape(len(v), nb)[:] = \
                be.reshape(len(v), -1)[:, -nb:]
        return
    wdt = v.dtype.type
    B = 8 * v.dtype.itemsize
    gm = v.reshape(-1, 8)
    words = [None] * ((width * 8 + B - 1) // B)
    for i in range(8):
        lo, hi = i * width, (i + 1) * width
        wlo, whi = lo // B, (hi - 1) // B
        if wlo == whi:
            parts = [(wlo, gm[:, i] << wdt(B * (wlo + 1) - hi))]
        else:  # straddles a word boundary
            parts = [(wlo, gm[:, i] >> wdt(hi - B * (wlo + 1))),
                     (whi, gm[:, i] << wdt(B * (whi + 1) - hi))]
        for j, part in parts:
            if words[j] is None:
                words[j] = part
            else:
                words[j] |= part
    gbytes = out.reshape(-1, width)
    nb = B // 8
    for j, word in enumerate(words):
        take = min(nb, width - j * nb)
        bj = word.astype(word.dtype.newbyteorder(">")).view(np.uint8)
        gbytes[:, j * nb: j * nb + take] = bj.reshape(-1, nb)[:, :take]
