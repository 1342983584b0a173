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
    if width % 8 == 0:
        nbytes = width // 8
        total = n * nbytes
        if width == 8:
            vals = np.frombuffer(buf, np.uint8, n, pos).astype(U64)
            return vals, pos + total
        if width == 16:
            return np.frombuffer(buf, ">u2", n, pos).astype(U64), pos + total
        if width == 32:
            return np.frombuffer(buf, ">u4", n, pos).astype(U64), pos + total
        if width == 64:
            return np.frombuffer(buf, ">u8", n, pos).astype(U64), pos + total
        raw = np.frombuffer(buf, dtype=np.uint8, count=total, offset=pos)
        out = np.zeros((n, 8), dtype=np.uint8)
        out[:, 8 - nbytes :] = raw.reshape(n, nbytes)
        vals = out.reshape(-1).view(">u8").astype(U64)
        return vals, pos + total
    total_bits = n * width
    total_bytes = (total_bits + 7) // 8
    raw = np.frombuffer(buf, dtype=np.uint8, count=total_bytes, offset=pos)
    lens = np.array([n], dtype=np.int64)
    byte_lens = np.array([total_bytes], dtype=np.int64)
    return _unpack_groups8(raw, lens, byte_lens, width, n), pos + total_bytes


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


def unpack_ints_segmented(raw: np.ndarray, lens: np.ndarray,
                          width: int, narrow: bool = False) -> np.ndarray:
    """Inverse of `pack_ints_segmented`: `raw` is the concatenation of
    per-segment packs (each zero-padded to a byte boundary); returns the
    concatenated uint64 values.

    ``narrow=True`` (valid only for width <= 32) returns uint32 and runs
    the whole fold in the 32-bit word domain — half the memory traffic
    per pass, which is the decode ceiling on run-dense streams."""
    n = int(lens.sum())
    if narrow and width > 32:
        narrow = False
    odt = np.uint32 if narrow else U64
    if n == 0:
        return np.empty(0, dtype=odt)
    if width % 8 == 0:
        nbytes = width // 8
        r = np.ascontiguousarray(np.asarray(raw, dtype=np.uint8))
        if width == 8:
            return r[:n].astype(odt)
        if width == 16:
            return r.view(">u2")[:n].astype(odt)
        if width == 32:
            return r.view(">u4")[:n].astype(odt)
        if width == 64:
            return r.view(">u8")[:n].astype(U64)
        if narrow:  # width == 24
            out = np.zeros((n, 4), dtype=np.uint8)
            out[:, 1:] = r.reshape(n, 3)
            return out.reshape(-1).view(">u4").astype(np.uint32)
        out = np.zeros((n, 8), dtype=np.uint8)
        out[:, 8 - nbytes:] = r.reshape(n, nbytes)
        return out.reshape(-1).view(">u8").astype(U64)
    byte_lens = (lens * width + 7) // 8
    if narrow:
        return _unpack_groups4(np.asarray(raw, dtype=np.uint8), lens,
                               byte_lens, width, n)
    return _unpack_groups8(np.asarray(raw, dtype=np.uint8), lens,
                           byte_lens, width, n)


def _drop_group_pad(flat: np.ndarray, lens: np.ndarray,
                    groups: np.ndarray, n: int) -> np.ndarray:
    """Keep the first lens[k] of each segment's group-padded 8-value
    slots: a direct segmented gather (repeat + cached iota + one fancy
    read) — less traffic than the boolean-mask compaction it replaces
    (no full-padded-length compare pass, no mask scan)."""
    K = len(lens)
    pad_vals = groups * 8
    total_pad = int(pad_vals.sum())
    vt = np.int32 if total_pad < 2**31 else np.int64
    vstarts = np.zeros(K, dtype=vt)
    np.cumsum(pad_vals[:-1].astype(vt), out=vstarts[1:])
    tstarts = np.zeros(K, dtype=vt)
    np.cumsum(lens[:-1].astype(vt), out=tstarts[1:])
    idx = np.repeat(vstarts - tstarts, lens)
    idx += iota32(n) if vt is np.int32 else np.arange(n, dtype=vt)
    return flat[idx]


def _unpack_groups8(raw: np.ndarray, lens: np.ndarray,
                    byte_lens: np.ndarray, width: int, n: int) -> np.ndarray:
    """Inverse of `_pack_groups8` for any non-byte-aligned width: each
    8-value group is exactly `width` bytes — fold them into ceil(w/8)
    u64 words and extract the 8 values with constant shifts (a w<=64
    value straddles at most two words), instead of the per-bit loop's
    `width` gather passes + 8x unpackbits expansion."""
    K = len(lens)
    groups = (lens + 7) // 8
    n_pad_bytes = int(groups.sum()) * width
    aligned = bool((lens % 8 == 0).all())
    if aligned:
        pbytes = raw[:n_pad_bytes]
    else:
        # re-space each segment's bytes to its ceil(len/8)*w padded slot
        it = np.int32 if n_pad_bytes < 2**31 else np.int64
        boffs = np.zeros(K, dtype=it)
        np.cumsum(byte_lens[:-1].astype(it), out=boffs[1:])
        pstart = np.zeros(K, dtype=it)
        np.cumsum((groups[:-1] * width).astype(it), out=pstart[1:])
        nb = int(byte_lens.sum())
        tgt = np.repeat(pstart - boffs, byte_lens)
        tgt += iota32(nb) if it is np.int32 else np.arange(nb, dtype=it)
        pbytes = np.zeros(n_pad_bytes, dtype=np.uint8)
        pbytes[tgt] = raw[:nb]
    gm = np.zeros((n_pad_bytes // width, 8), dtype=np.uint8)
    gb = pbytes.reshape(-1, width)
    m = gm.shape[0]
    mask = U64((1 << width) - 1)
    if width <= 8:
        gm[:, :width] = gb
        word = gm.reshape(-1).view(">u8").astype(U64)
        vals8 = np.empty((m, 8), dtype=U64)
        for i in range(8):
            vals8[:, i] = (word >> U64(64 - (i + 1) * width)) & mask
    else:
        nw = (width + 7) // 8
        W = []
        for j in range(nw):
            take = min(8, width - j * 8)
            gmj = gm if j == 0 else np.zeros((m, 8), dtype=np.uint8)
            gmj[:, :take] = gb[:, j * 8: j * 8 + take]
            if take < 8:
                gmj[:, take:] = 0
            W.append(gmj.reshape(-1).view(">u8").astype(U64))
        vals8 = np.empty((m, 8), dtype=U64)
        for i in range(8):
            lo, hi = i * width, (i + 1) * width
            wlo, whi = lo // 64, (hi - 1) // 64
            if wlo == whi:
                vals8[:, i] = (W[wlo] >> U64(64 * (wlo + 1) - hi)) & mask
            else:
                vals8[:, i] = ((W[wlo] << U64(hi - 64 * (wlo + 1)))
                               | (W[whi] >> U64(64 * (whi + 1) - hi))) & mask
    flat = vals8.reshape(-1)
    if aligned:
        return flat[:n]
    return _drop_group_pad(flat, lens, groups, n)


def _unpack_groups4(raw: np.ndarray, lens: np.ndarray,
                    byte_lens: np.ndarray, width: int, n: int) -> np.ndarray:
    """u32-word variant of `_unpack_groups8` for width <= 32: an 8-value
    group's `width` bytes fold into ceil(width/4) u32 words, and a value
    of width <= 32 straddles at most two adjacent u32 words — the same
    op count as the u64 fold at half the bytes per pass."""
    U32 = np.uint32
    K = len(lens)
    groups = (lens + 7) // 8
    n_pad_bytes = int(groups.sum()) * width
    aligned = bool((lens % 8 == 0).all())
    if aligned:
        pbytes = raw[:n_pad_bytes]
    else:
        it = np.int32 if n_pad_bytes < 2**31 else np.int64
        boffs = np.zeros(K, dtype=it)
        np.cumsum(byte_lens[:-1].astype(it), out=boffs[1:])
        pstart = np.zeros(K, dtype=it)
        np.cumsum((groups[:-1] * width).astype(it), out=pstart[1:])
        nb = int(byte_lens.sum())
        tgt = np.repeat(pstart - boffs, byte_lens)
        tgt += iota32(nb) if it is np.int32 else np.arange(nb, dtype=it)
        pbytes = np.zeros(n_pad_bytes, dtype=np.uint8)
        pbytes[tgt] = raw[:nb]
    m = n_pad_bytes // width
    gb = pbytes.reshape(-1, width)
    mask = U32((1 << width) - 1) if width < 32 else U32(0xFFFFFFFF)
    nw = (width + 3) // 4
    W = []
    for j in range(nw):
        take = min(4, width - j * 4)
        gmj = np.empty((m, 4), dtype=np.uint8) if take == 4 \
            else np.zeros((m, 4), dtype=np.uint8)
        gmj[:, :take] = gb[:, j * 4: j * 4 + take]
        W.append(gmj.reshape(-1).view(">u4").astype(U32))
    vals8 = np.empty((m, 8), dtype=U32)
    for i in range(8):
        lo, hi = i * width, (i + 1) * width
        wlo, whi = lo // 32, (hi - 1) // 32
        if wlo == whi:
            vals8[:, i] = (W[wlo] >> U32(32 * (wlo + 1) - hi)) & mask
        else:
            vals8[:, i] = ((W[wlo] << U32(hi - 32 * (wlo + 1)))
                           | (W[whi] >> U32(32 * (whi + 1) - hi))) & mask
    flat = vals8.reshape(-1)
    if aligned:
        return flat[:n]
    return _drop_group_pad(flat, lens, groups, n)


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
