"""ORC RLEv2 integer codec (encode + decode), byte-identical to the
reference implementation (`src/encoding/integer/rle_v2/mod.rs:103-531`).

Sub-encoding byte layouts follow `short_repeat.rs:29-81`,
`direct.rs:39-95`, `delta.rs:44-182` and `patched_base.rs:38-276`.
All integer types are handled in the int64/uint64 domain; `width_bits`
(16/32/64) only affects the max-min overflow check, mirroring the
reference's N-typed `max.checked_sub(&min)` (`mod.rs:450`).
A run-at-a-time scalar port of the reference state machine lives under
`tests/` as the differential oracle; `tests/test_rle_batch_parity.py`
holds this module byte-/value-identical to it.

Encode is batch-vectorized (SURVEY §7.3 "vectorizing the run state
machine"):

1. **Segmentation** — `_segments_arrays` replays the state machine's
   control flow fully vectorized (the 0..2-value literal carry between
   runs is the only sequential dependency; its rare carry-sensitive
   runs get a scalar fix-up), emitting (kind, start, len) arrays of
   literal blocks (<=512 values) and fixed runs.
2. **Vectorized classification** — every literal block's statistics
   (min/max, adjacent-delta min/max incl. monotonicity, fixed-delta,
   bit-length percentile histograms, base-reduced 95th-percentile
   width) are computed for ALL blocks at once with
   `np.{minimum,maximum}.reduceat` over a mask-gathered value array
   and (K, max_bits) `bincount` histograms whose percentile stops walk
   suffix counts in bit space (equivalent to the reference's code-space
   walk because code(bits) is monotone), reproducing the reference
   decision tree (`mod.rs:422-531`) including its f32 percentile
   truncation (`util.rs:584-610`).
3. **Emission** — every planner appends to one per-block table: header
   rows built by `_rows` from byte columns and (matrix, lengths) fields
   (`_varint_matrix`, `_be_matrix`), and bit-packed payloads as (block
   ids, offset in block, src, starts, counts, widths).  Runs over 10
   values share the DELTA header builder of fixed-delta literal blocks
   (first delta 0); interop re-routes are plain DIRECT blocks.
   `rle_v2_encode` sizes every block from the table, allocates the
   output once, scatters the header rows and hands each payload kind
   — DIRECT data, varying-DELTA deltas, PATCHED_BASE data, PATCHED_BASE
   patch words — whatever its widths, to ONE `pack_segments` call that
   packs the bytes in place; 255-gap jump patches are split vectorized.

Decode walks the block headers sequentially (sizes only), derives every
block's fields vectorized, then unpacks each block kind's bit-packed
payload — DIRECT data, PATCHED_BASE data, PATCHED_BASE patch words,
varying-DELTA deltas — in ONE `unpack_segments` pass over all its blocks,
whatever their widths, and scatters the values to their positions.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from .bitpack import pack_segments, unpack_segments
from .util import (
    _ALIGNED_WIDTH_LUT,
    _ENCODE_BIT_WIDTH_LUT,
    _FIXED_BITS_LUT,
    I64,
    I64_MAX,
    I64_MIN,
    U64,
    bits_used,
    get_closest_fixed_bits,
    iota32,
    rle_v2_decode_bit_width,
    zigzag_decode,
    zigzag_encode,
)

MAX_RUN_LENGTH = 512
SHORT_REPEAT_MIN_LENGTH = 3
SHORT_REPEAT_MAX_LENGTH = 10
BASE_VALUE_LIMIT = 1 << 56

_HDR_SHORT_REPEAT = 0x00
_HDR_DIRECT = 0x40
_HDR_PATCHED_BASE = 0x80
_HDR_DELTA = 0xC0

_CAT_DIRECT = 0
_CAT_FIXED_DELTA = 1
_CAT_VAR_DELTA = 2
_CAT_PATCHED = 3


def _segments_arrays(v: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized replay of the run state machine's control flow
    (`mod.rs:282-394`) returning (kind, start, len) arrays, kind 0 =
    literal block (<=512 values), 1 = fixed run — the segment plan of
    the run-at-a-time port without its O(#runs) Python loop (on zipf
    token data ~93k runs/stripe made that loop ~40% of encode wall).

    The only sequential dependency in the state machine is the 0..2-value
    literal *carry* between consecutive runs.  The carry map of run i is
    constant (independent of carry-in) unless the preceding literal gap
    modulo 512 lands in {508..511}, where the M-1/M-2 absorb rule kicks
    in — so the chain is resolved with one vectorized pass plus a scalar
    fix-up loop over only those rare sensitive runs."""
    n = len(v)
    M = MAX_RUN_LENGTH  # 512
    e = np.empty
    if n < 3:
        if n == 0:
            z = np.empty(0, dtype=np.int64)
            return z.astype(np.int8), z, z
        return (np.zeros(1, dtype=np.int8), np.zeros(1, dtype=np.int64),
                np.array([n], dtype=np.int64))
    eq = v[1:] == v[:-1]
    m3 = eq[1:] & eq[:-1]
    pos = np.nonzero(m3)[0]
    if not len(pos):
        # pure literal stream: full-M blocks + remainder
        k_f = n // M
        m_f = n % M
        S = k_f + (1 if m_f else 0)
        start = np.arange(S, dtype=np.int64) * M
        slen = np.full(S, M, dtype=np.int64)
        if m_f:
            slen[-1] = m_f
        return np.zeros(S, dtype=np.int8), start, slen
    brk = np.nonzero(np.diff(pos) > 1)[0]
    rs = np.concatenate(([pos[0]], pos[brk + 1]))
    rend = np.concatenate((pos[brk], [pos[-1]])) + 3
    rlen = rend - rs
    R = len(rs)

    end_prev = np.concatenate(([0], rend[:-1]))
    gap = rs - end_prev
    g = gap % M

    # carry resolution: assume carry-in 0 everywhere, then fix the
    # sensitive runs (g in 508..511) in order
    cons = np.zeros(R, dtype=np.int64)
    cons[g == M - 1] = 1
    cons[g == M - 2] = 2
    r0 = (rlen - cons) % M
    cout = np.where(r0 <= 2, r0, 0)
    c = np.zeros(R, dtype=np.int64)
    c[1:] = cout[:-1]
    c_last = int(cout[-1])
    for i in np.nonzero(g >= M - 4)[0].tolist():
        m = (int(g[i]) + int(c[i])) % M
        ci = 1 if m == M - 1 else 2 if m == M - 2 else 0
        ri = (int(rlen[i]) - ci) % M
        co = ri if ri <= 2 else 0
        cons[i] = ci
        if i + 1 < R:
            c[i + 1] = co
        else:
            c_last = co

    lit_a = end_prev - c
    L = gap + c
    k = L >> 9
    m = L & (M - 1)
    # recompute cons from the resolved m (covers non-sensitive g exactly
    # as before; sensitive rows were fixed above but recomputing is
    # idempotent since m now includes c)
    cons = np.zeros(R, dtype=np.int64)
    cons[m == M - 1] = 1
    cons[m == M - 2] = 2
    rem = rlen - cons
    nfix = rem >> 9
    r = rem & (M - 1)
    has_m = m > 0
    has_tail = r >= 3

    # final literal tail after the last run
    lit_a_f = int(rend[-1]) - c_last
    L_f = n - lit_a_f
    k_f = L_f // M
    m_f = L_f % M

    nseg = k + has_m + nfix + has_tail
    base = np.zeros(R + 1, dtype=np.int64)
    np.cumsum(nseg, out=base[1:])
    S = int(base[-1]) + k_f + (1 if m_f else 0)
    kind = np.zeros(S, dtype=np.int8)
    start = e(S, dtype=np.int64)
    slen = e(S, dtype=np.int64)

    # group 1: k full-M literal blocks per run
    totk = int(k.sum())
    if totk:
        k0 = np.zeros(R, dtype=np.int64)
        np.cumsum(k[:-1], out=k0[1:])
        j = np.arange(totk, dtype=np.int64) - np.repeat(k0, k)
        idx = np.repeat(base[:-1], k) + j
        start[idx] = np.repeat(lit_a, k) + j * M
        slen[idx] = M
    # group 2: remainder literal block (with absorbed run values)
    mi = np.nonzero(has_m)[0]
    if len(mi):
        idx = base[mi] + k[mi]
        start[idx] = lit_a[mi] + k[mi] * M
        slen[idx] = m[mi] + cons[mi]
    # group 3: full-M fixed-run chunks (start is the run start for all)
    totf = int(nfix.sum())
    if totf:
        f0 = np.zeros(R, dtype=np.int64)
        np.cumsum(nfix[:-1], out=f0[1:])
        j = np.arange(totf, dtype=np.int64) - np.repeat(f0, nfix)
        idx = np.repeat(base[:-1] + k + has_m, nfix) + j
        kind[idx] = 1
        start[idx] = np.repeat(rs, nfix)
        slen[idx] = M
    # group 4: tail fixed run (3..511 values)
    ti = np.nonzero(has_tail)[0]
    if len(ti):
        idx = base[ti] + k[ti] + has_m[ti] + nfix[ti]
        kind[idx] = 1
        start[idx] = rend[ti] - r[ti]
        slen[idx] = r[ti]
    # final literal tail
    fbase = int(base[-1])
    if k_f:
        j = np.arange(k_f, dtype=np.int64)
        start[fbase: fbase + k_f] = lit_a_f + j * M
        slen[fbase: fbase + k_f] = M
    if m_f:
        start[S - 1] = lit_a_f + k_f * M
        slen[S - 1] = m_f
    return kind, start, slen


def _varint_matrix(zz: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized LEB128 as a `_rows` field: uint values -> ((K, M)
    uint8 matrix, byte lengths); row i's first len[i] bytes are the
    varint encoding (low 7 bits first, 0x80 continuation), matching
    `write_varint`."""
    zz = zz.astype(U64, copy=False)
    vlen = np.maximum((bits_used(zz) + 6) // 7, 1).astype(np.int64)
    K = len(zz)
    M = int(vlen.max()) if K else 1
    mat = np.empty((K, M), dtype=np.uint8)
    for i in range(M):
        mat[:, i] = ((zz >> U64(7 * i)) & U64(0x7F)).astype(np.uint8)
    cont = np.arange(M, dtype=np.int64)[None, :] < (vlen - 1)[:, None]
    mat |= (cont.astype(np.uint8) << 7)
    return mat, vlen


def _be_matrix(values: np.ndarray, nbytes: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
    """The low nbytes[i] bytes of values[i], big-endian, as a `_rows`
    field."""
    be = values.astype(">u8").view(np.uint8).reshape(-1, 8)
    cols = np.minimum(8 - nbytes[:, None]
                      + np.arange(int(nbytes.max(initial=1))), 7)
    return be[np.arange(len(be))[:, None], cols], nbytes


def _rows(*fields) -> tuple[np.ndarray, np.ndarray]:
    """Header rows of K blocks from fields laid end to end.  A field is
    one byte per block (an int array) or a (matrix, lengths) pair whose
    row i holds lengths[i] bytes.  Returns the (K, W) uint8 rows and
    each row's byte length.  Fields are written in order at their
    full width, so a field's bytes past its length are overwritten by
    the next field or lie past the row's length."""
    K = len(fields[0])
    pairs = [f if isinstance(f, tuple) else (f[:, None], 1) for f in fields]
    rows = np.zeros((K, sum(m.shape[1] for m, _ in pairs)), dtype=np.uint8)
    at = 0
    for mat, lens in pairs:
        if isinstance(at, int):
            rows[:, at: at + mat.shape[1]] = mat
        else:
            rows[np.arange(K)[:, None],
                 at[:, None] + np.arange(mat.shape[1])] = mat
        at = at + lens
    return rows, np.zeros(K, dtype=np.int64) + at


def _delta_rows(el, dwc, base, delta) -> tuple[np.ndarray, np.ndarray]:
    """DELTA header rows (`delta.rs:44-182`): width code and length,
    then the varints of the (zigzagged) base and first delta."""
    return _rows(_HDR_DELTA | (dwc << 1) | (el >> 8), el & 0xFF,
                 _varint_matrix(base), _varint_matrix(delta))


def _zigzag(x: np.ndarray, signed: bool) -> np.ndarray:
    """Signed values zigzagged, unsigned ones reinterpreted, at x's
    width (int32 -> uint32, int64 -> uint64)."""
    if signed:
        return zigzag_encode(x)
    return x.astype(np.uint32 if x.dtype == np.int32 else U64)


def _scatter_rows(out: np.ndarray, pos: np.ndarray, rows: np.ndarray,
                  lens: np.ndarray) -> None:
    """Write row i's first lens[i] bytes of `rows` into out[pos[i]:] —
    one fancy scatter for the group."""
    cols = np.arange(rows.shape[1], dtype=np.int64)
    keep = cols[None, :] < lens[:, None]
    out[(pos[:, None] + cols[None, :])[keep]] = rows[keep]


def rle_v2_encode(values: np.ndarray, signed: bool = True,
                  width_bits: int = 64, interop: bool = False) -> bytes:
    """Encode an integer array as an RLEv2 byte stream.  ``interop=True``
    re-routes the patched-base blocks external ORC readers reject
    (patch count 0 or > 31) to DIRECT; without it such a block fails
    an assertion."""
    # int32-domain fast path: token data is array<int32>; keeping the
    # gathered values and zigzag arrays 32-bit halves the memory traffic
    # of classification/emission while every emitted byte stays identical
    # (zigzag/bit-width/decisions agree for values that fit in 32 bits,
    # and adjacent int32 deltas can never overflow int64, so the
    # saturating-diff path is skipped entirely).
    vin = np.ascontiguousarray(values)
    narrow = vin.dtype in (np.int32, np.int16, np.int8, np.uint8, np.uint16)
    v = vin.astype(np.int32 if narrow else I64, copy=False)
    n = len(v)
    if n == 0:
        return b""
    skind, sstart, sslen = _segments_arrays(v)
    S = len(skind)
    is_run = skind == 1
    run_sids = np.nonzero(is_run)[0]
    lit_sids = np.nonzero(~is_run)[0]

    # one table per block: header rows (block ids, rows, row lengths)
    # and bit-packed payloads (block ids, offset in block, src, starts,
    # counts, widths)
    heads: list[tuple] = []
    packs: list[tuple] = []
    if len(run_sids):
        _plan_runs(v, run_sids, sstart[run_sids], sslen[run_sids], signed,
                   heads)
    if len(lit_sids):
        _plan_literals(v, sstart[lit_sids], sslen[lit_sids], lit_sids,
                       signed, width_bits, narrow, interop, heads, packs)

    # a block ends where its header or its last payload ends
    seg_len = np.zeros(S, dtype=np.int64)
    for sids, _, lens in heads:
        seg_len[sids] = lens
    for sids, off, _, _, counts, widths in packs:
        seg_len[sids] = np.maximum(seg_len[sids],
                                   off + (counts * widths + 7) // 8)
    pos = np.zeros(S + 1, dtype=np.int64)
    np.cumsum(seg_len, out=pos[1:])
    out = np.empty(int(pos[-1]), dtype=np.uint8)
    for sids, rows, lens in heads:
        _scatter_rows(out, pos[sids], rows, lens)
    for sids, off, src, starts, counts, widths in packs:
        pack_segments(src, starts, counts, widths, out, pos[sids] + off)
    return out.tobytes()


def _plan_runs(v, sids, r_a, r_ln, signed, heads):
    """Header rows of the fixed runs: a short repeat up to 10 values
    (`short_repeat.rs:65-81`), else a DELTA block with first delta 0
    (`delta.rs:146-159`)."""
    zz = _zigzag(v[r_a], signed)
    sr = r_ln <= SHORT_REPEAT_MAX_LENGTH
    bs = np.maximum((bits_used(zz[sr]) + 7) // 8, 1)
    heads.append((sids[sr], *_rows(
        _HDR_SHORT_REPEAT | ((bs - 1) << 3)
        | (r_ln[sr] - SHORT_REPEAT_MIN_LENGTH),
        _be_matrix(zz[sr], bs))))
    fd = ~sr
    heads.append((sids[fd], *_delta_rows(
        r_ln[fd] - 1, 0, zz[fd], np.zeros(int(fd.sum()), dtype=U64))))


def _suffix_counts(hist: np.ndarray) -> np.ndarray:
    """(K,32) histogram -> suffix sums c[k,i] = sum(hist[k,i:]), int32
    (block counts are <=512, far inside int32)."""
    return np.cumsum(hist[:, ::-1], axis=1, dtype=np.int32)[:, ::-1]


def _stop_from_suffix(c: np.ndarray, per_len: np.ndarray) -> np.ndarray:
    """Largest code i with suffix count > per_len (`util.rs:584-610`).
    Suffix counts are non-increasing in i, so the comparison mask is a
    prefix — its popcount minus one IS the largest true index.  This
    replaces the where+max reduction (3 full (K,32) int64 temporaries)
    with one bool compare and a count."""
    return np.count_nonzero(c > per_len.astype(np.int32)[:, None],
                            axis=1) - 1


def _percentile_stop(hist: np.ndarray, per_len: np.ndarray) -> np.ndarray:
    """Vectorized walk of `util.rs:584-610`: for each row, largest code i
    with sum(hist[i:]) > per_len."""
    return _stop_from_suffix(_suffix_counts(hist), per_len)


def _per_len(counts: np.ndarray, percentile: float) -> np.ndarray:
    frac = np.float32(np.float32(1.0) - np.float32(percentile))
    return (frac * counts.astype(np.float32)).astype(np.int64)


def _plan_literals(v, la, ll, lit_sids, signed, width_bits, narrow,
                   interop, heads, packs):
    """Classify every literal block (vectorized decision tree,
    `mod.rs:422-531`) and append its header rows to `heads` and its
    bit-packed payloads to `packs` — no per-block Python for any block
    kind (the per-segment bytes assembly was ~19us/segment of pure
    interpreter time)."""
    K = len(la)
    total = int(ll.sum())

    bnd = np.zeros(K, dtype=np.int64)
    np.cumsum(ll[:-1], out=bnd[1:])
    # gather via an interval diff-mask: literal blocks are sorted
    # non-overlapping [la, la+ll) spans, so +1 at starts / -1 at ends,
    # int8 cumsum, one boolean gather — ~3 cheap passes instead of K
    # Python slice objects (~16 ms per 33k-block stripe)
    if K == 1:
        g = np.ascontiguousarray(v[la[0]: la[0] + ll[0]])
    elif total == len(v):
        # sorted non-overlapping spans summing to n tile [0, n): the
        # literal-dense worst case needs no mask build and no gather
        g = np.ascontiguousarray(v)
    else:
        dd = np.zeros(len(v) + 1, dtype=np.int8)
        dd[la] = 1
        dd[la + ll] -= 1  # end==next start cancels to 0, as it must
        mask = np.cumsum(dd[:len(v)], dtype=np.int8).view(np.bool_)
        g = v[mask]
    # int32 blocks stay 32-bit through the zigzag, base reduction and
    # packing: bit widths and packed bytes agree with the 64-bit domain
    zzg = _zigzag(g, signed)
    idt, udt = g.dtype.type, zzg.dtype.type

    vmin = np.minimum.reduceat(g, bnd).astype(I64)
    vmax = np.maximum.reduceat(g, bnd).astype(I64)
    zmax = np.maximum.reduceat(zzg, bnd).astype(U64)

    # saturating adjacent deltas, padded to length `total`; positions that
    # cross a segment boundary (and the final pad) are neutralized.
    # When the global value range fits int31, every pairwise delta fits
    # int32 — the delta array (and all its reduction passes) runs at
    # half the memory traffic
    nrange = narrow and K > 0 and \
        int(vmax.max()) - int(vmin.min()) < 2**31
    ddt = np.int32 if nrange else I64
    d_max = np.int32(2**31 - 1) if nrange else I64_MAX
    d_min = np.int32(-2**31) if nrange else I64_MIN
    d = np.empty(total, dtype=ddt)
    d[-1] = 0
    if total > 1:
        if nrange:
            # guarded above: wrapping int32 subtraction is exact;
            # subtract straight into d (no temp + copy pass)
            np.subtract(g[1:], g[:-1], out=d[:-1])
        elif narrow:
            # int32 adjacent deltas always fit int64: no saturation
            np.subtract(g[1:], g[:-1], out=d[:-1], dtype=I64,
                        casting="unsafe")
        else:
            raw = g[1:] - g[:-1]  # wrapping
            l1, l0 = g[1:], g[:-1]
            pos_ovf = (l1 >= 0) & (l0 < 0) & (raw < 0)
            neg_ovf = (l1 < 0) & (l0 >= 0) & (raw > 0)
            raw = np.where(pos_ovf, I64_MAX, raw)
            raw = np.where(neg_ovf, I64_MIN, raw)
            d[:-1] = raw
    else:
        d[:] = 0
    cross = np.concatenate((bnd[1:], np.array([total], dtype=np.int64))) - 1

    first_delta = d[bnd].astype(I64)
    # neutralize boundary-crossing deltas in place (saving two full
    # copies), restoring d afterwards for the var-delta emission
    saved_cross = d[cross].copy()
    d[cross] = d_max
    dmin = np.minimum.reduceat(d, bnd)
    d[cross] = d_min
    dmax = np.maximum.reduceat(d, bnd)
    d[cross] = saved_cross

    # in-block monotonicity falls straight out of the neutralized
    # min/max (cross positions are +max for dmin / -min for dmax, so
    # dmin>=0 <=> every in-block delta >=0) — the two full-length bool
    # arrays and logical reduceats they replaced were pure traffic
    all_ge = dmin >= 0
    all_le = dmax <= 0

    # percentile widths from BIT-LENGTH histograms (w90/w100).  The
    # reference walks a 32-bucket histogram of encoded width codes;
    # code(bits) is monotone non-decreasing, so the percentile stop in
    # code space equals the stop in bit space mapped through
    # closest-fixed-bits — which skips the full-length code-LUT gather
    # entirely (one fewer pass over every element, here and in the
    # patched-base histogram below).
    if narrow and int(zmax.max()) < (1 << 24):
        # float32 frexp is bit-exact below 2^24 significant bits —
        # halves the float-conversion traffic of the bit-length pass
        bug = np.frexp(zzg.astype(np.float32))[1]
    else:
        bug = bits_used(zzg)
    # histogram width driven by the data's actual max bit length (~18
    # for zipf tokens instead of 33/65): smaller bincount target and
    # suffix matrix
    ncols = int(bug.max()) + 1 if len(bug) else 1
    # int64 key built via repeat (multiply happens in the K domain):
    # bincount's internal cast to intp is free on an int64 input, which
    # beats handing it a freshly built int32 key by ~1.5x
    hkey = np.repeat(np.arange(K, dtype=np.int64) * ncols, ll)
    np.add(hkey, bug, out=hkey, casting="unsafe")
    hist = np.bincount(hkey, minlength=K * ncols).reshape(K, ncols)
    sfx = _suffix_counts(hist)
    w90 = _FIXED_BITS_LUT[_stop_from_suffix(sfx, _per_len(ll, 0.90))]
    w100 = _FIXED_BITS_LUT[_stop_from_suffix(sfx, np.zeros(K, dtype=np.int64))]

    # decision tree (`mod.rs:422-531`)
    range_u = vmax.astype(U64) - vmin.astype(U64)
    n_max = U64((1 << (width_bits - 1)) - 1)
    overflow = range_u > n_max
    abs_min = np.where(vmin < 0, U64(0) - vmin.astype(U64), vmin.astype(U64))
    base_limit = (abs_min >= U64(BASE_VALUE_LIMIT)) & (vmin != I64_MIN)

    small = ll <= 3
    is_fixed = ~small & ~overflow & (dmin == dmax)
    monotonic = (~small & ~overflow & ~is_fixed
                 & (((first_delta > 0) & all_ge) | ((first_delta < 0) & all_le)))
    rest_direct = ~small & ~overflow & ~is_fixed & ~monotonic
    direct_now = rest_direct & (base_limit | (w100 - w90 <= 1))
    pc = rest_direct & ~direct_now  # patched-base candidates

    cat = np.full(K, _CAT_DIRECT, dtype=np.int64)
    cat[is_fixed] = _CAT_FIXED_DELTA
    cat[monotonic] = _CAT_VAR_DELTA

    # ---- patched-base derivation (fully vectorized, incl. 255-gap
    # jump splitting) ----
    pb_pgw = np.zeros(K, dtype=np.int64)    # patch gap width per k
    pb_nplen = np.zeros(K, dtype=np.int64)  # patch count per k
    pb_pbw = np.zeros(K, dtype=np.int64)    # patch bits width per k
    pb_t95 = np.zeros(K, dtype=np.int64)    # brl_95p per k
    if pc.any():
        # p95 histograms WITHOUT a second full element pass: a block
        # with vmin == 0 has base-reduced values equal to its raw
        # values, and (signed) bits(zigzag(x)) = bits(x) + 1 for x > 0,
        # so its base-reduced bit-length histogram is the zigzag
        # histogram's row shifted down one bucket — a pure K-domain
        # transform.  Only vmin != 0 candidate blocks (rare on zipf
        # token data, where nearly every 512-value block contains a 0)
        # pay a gathered element pass.
        sc = pc & (vmin == 0)
        gd = pc & ~sc
        gdk = np.nonzero(gd)[0]
        pcols = ncols
        if len(gdk):
            ll_g = ll[gdk]
            tot_g = int(ll_g.sum())
            st_g = np.zeros(len(gdk), dtype=np.int64)
            np.cumsum(ll_g[:-1], out=st_g[1:])
            idx_g = (np.arange(tot_g, dtype=np.int64)
                     + np.repeat(bnd[gdk] - st_g, ll_g))
            brl_g = (g[idx_g] - np.repeat(vmin[gdk].astype(idt), ll_g)) \
                .view(udt)
            if narrow and int(range_u[gdk].max()) < (1 << 24):
                pbits_g = np.frexp(brl_g.astype(np.float32))[1]
            else:
                pbits_g = bits_used(brl_g)
            if tot_g:
                pcols = max(pcols, int(pbits_g.max()) + 1)
        phist = np.zeros((K, pcols), dtype=hist.dtype)
        if sc.any():
            if signed:
                phist[sc, 0] = hist[sc, 0] + (hist[sc, 1] if ncols > 1 else 0)
                if ncols > 2:
                    phist[sc, 1:ncols - 1] = hist[sc, 2:]
            else:
                phist[sc, :ncols] = hist[sc]
        if len(gdk):
            gkey = np.repeat(np.arange(len(gdk), dtype=np.int64) * pcols,
                             ll_g)
            np.add(gkey, pbits_g, out=gkey, casting="unsafe")
            phist[gdk] = np.bincount(
                gkey, minlength=len(gdk) * pcols).reshape(len(gdk), pcols)
        p95_k = _FIXED_BITS_LUT[_percentile_stop(phist, _per_len(ll, 0.95))]
        brl_100_k = _ALIGNED_WIDTH_LUT[bits_used(range_u)]
        is_patched_k = pc & (brl_100_k != p95_k)
        cat[is_patched_k] = _CAT_PATCHED

        jj = np.nonzero(is_patched_k)[0]  # K-domain patched block ids
        pbw_k = np.zeros(K, dtype=np.int64)
        t95_k = np.zeros(K, dtype=np.int64)
        pbw_k[jj] = _FIXED_BITS_LUT[brl_100_k[jj] - p95_k[jj]]
        t95_k[jj] = p95_k[jj]
        adj = pbw_k == 64  # only set on jj rows; others are 0
        pbw_k[adj] = 56
        t95_k[adj] = 8
        thr = np.full(K, 64, dtype=np.int64)  # non-patched: mask everything
        thr[jj] = t95_k[jj]
        # a value needs a patch exactly when its BASE-REDUCED bit length
        # exceeds the block's t95 threshold.  vmin == 0 blocks test the
        # zigzag bit lengths already computed for the first histogram
        # (bits(zigzag) = pbits + 1 there when signed); gathered blocks
        # test their own base-reduced lengths over the small subset
        thr_zz = np.full(K, 64, dtype=bug.dtype)
        m_sc = is_patched_k & sc
        thr_zz[m_sc] = t95_k[m_sc] + (1 if signed else 0)
        # sequential repeat beats the random-ish thr_zz[seg_of] gather
        # (~2.5x on the 18 MB profile stripe); same n-length compare
        pidx = np.nonzero(bug > np.repeat(thr_zz, ll))[0]
        if len(gdk):
            pm = pbits_g > np.repeat(thr[gdk], ll_g).astype(pbits_g.dtype)
            pidx_gd = idx_g[pm]
            if len(pidx_gd):
                pidx = np.sort(np.concatenate((pidx, pidx_gd)))
        # block id of each (sparse) patch position: binary search over
        # the K block starts — O(P log K) on the few patch elements,
        # replacing the full-length seg_of repeat (one n-length write
        # pass) it used to gather from
        pb_ = (np.searchsorted(bnd, pidx, side="right") - 1) \
            .astype(np.int32)
        rel = pidx - bnd[pb_]
        gap = rel.copy()
        same = np.zeros(len(pidx), dtype=bool)
        same[1:] = pb_[1:] == pb_[:-1]
        gap[same] = rel[same] - rel[np.nonzero(same)[0] - 1]
        pbw_e = pbw_k.astype(U64)[pb_]
        thr_p = thr[pb_].astype(U64)
        # base-reduced patch values via sparse gathers; the full-domain
        # base reduction is gone (emission re-derives its own), and the
        # high-bit strip is applied sparsely at the emission positions
        pval = (g[pidx] - vmin[pb_].astype(idt)).view(udt) \
            .astype(U64) >> thr_p
        # 255-gap jump splitting, vectorized for ALL blocks (replaces
        # the per-block scalar reference walk — ~1.2k such blocks per
        # token stripe): gap 256..510 emits one (255, 0) marker word
        # before the patch, gap == 511 emits two, and the real patch
        # carries the remainder gap (`patched_base.rs:150-217`)
        n_jump = (gap > 255).astype(np.int64)
        is511 = gap == 511
        n_jump[is511] = 2
        rem_gap = gap - 255 * n_jump
        rem_gap[is511] = 1
        if len(gap) and int(n_jump.max()) > 0:
            counts_e = n_jump + 1
            words = np.repeat(U64(255) << pbw_e, counts_e)
            words[np.cumsum(counts_e) - 1] = \
                pval | (rem_gap.astype(U64) << pbw_e)
        else:
            counts_e = None
            words = pval | (rem_gap.astype(U64) << pbw_e)
        # per-block slices over the (sorted) pb_ — K-domain block ids
        vb_ids = np.unique(pb_)
        b0 = np.searchsorted(pb_, vb_ids)
        b1 = np.append(b0[1:], len(pb_))
        if len(vb_ids):
            gmax = np.maximum.reduceat(
                np.where(n_jump > 0, 255, rem_gap), b0)
            plens_vec = np.add.reduceat(counts_e, b0) \
                if counts_e is not None else b1 - b0
        else:
            gmax = np.empty(0, dtype=np.int64)
            plens_vec = np.empty(0, dtype=np.int64)
        pgw_vec = np.maximum(bits_used(gmax.astype(U64)), 1)
        # the 95th-percentile stop bounds outliers to <=5% of a
        # <=512-value block (<=25 patches), and gaps sum to <=511 so at
        # most one can exceed 255 (<=2 marker words): <=27 total.  The
        # f32 percentile truncation can still construct overflows;
        # interop output re-routes those blocks to DIRECT (external ORC
        # readers reject pl fields outside 1..31, `patched_base.rs:262`
        # writes unguarded), otherwise fail loudly instead of ORing the
        # count into the 5-bit pl field and silently corrupting output.
        overfull = plens_vec > 31
        assert interop or not overfull.any(), \
            "patched-base patch count overflows 5-bit field"
        # defaults for patched blocks whose p95 mask covers every value
        # (no patch elements): pl=0, gap width 1 — our decoder reads
        # them fine, but external readers reject pl==0, so interop
        # re-routes them to DIRECT (with the >31 overflows)
        pb_pgw[jj] = 1
        pb_pbw[jj] = pbw_k[jj]
        pb_t95[jj] = t95_k[jj]
        pb_pgw[vb_ids] = pgw_vec
        pb_nplen[vb_ids] = plens_vec
        if interop:
            cat[np.concatenate((vb_ids[overfull],
                                np.setdiff1d(jj, vb_ids)))] = _CAT_DIRECT

    dks = np.nonzero(cat == _CAT_DIRECT)[0]
    if len(dks):
        dw = _ALIGNED_WIDTH_LUT[bits_used(zmax[dks])]
        el = ll[dks] - 1
        heads.append((lit_sids[dks], *_rows(
            _HDR_DIRECT | (_ENCODE_BIT_WIDTH_LUT[dw] << 1) | (el >> 8),
            el & 0xFF)))
        packs.append((lit_sids[dks], 2, zzg, bnd[dks], ll[dks], dw))

    # fixed- and varying-delta literal blocks share the DELTA header
    fvk = np.nonzero((cat == _CAT_FIXED_DELTA) | (cat == _CAT_VAR_DELTA))[0]
    if len(fvk):
        # var-delta payload: |subsequent deltas| packed at the block's
        # aligned width (min 2 — width 1 decodes as fixed-delta marker)
        vd_local = np.nonzero(cat[fvk] == _CAT_VAR_DELTA)[0]
        dwc = np.zeros(len(fvk), dtype=np.int64)
        if len(vd_local):
            vks = fvk[vd_local]
            counts = ll[vks] - 2
            tot = int(counts.sum())
            st = np.zeros(len(vks), dtype=np.int64)
            np.cumsum(counts[:-1], out=st[1:])
            gi = (np.arange(tot, dtype=np.int64)
                  + np.repeat(bnd[vks] + 1 - st, counts))
            rest = d[gi]
            if d.dtype == np.int32:
                # nrange guard: no delta can be INT32_MIN, abs is exact
                abs_rest = np.abs(rest).view(np.uint32)
            else:
                abs_rest = np.where(rest == I64_MIN, I64_MAX,
                                    np.abs(rest)).view(U64)
            # monotonic blocks have ll >= 4, so counts >= 2 everywhere
            mx = np.maximum.reduceat(abs_rest, st)
            vdw = np.maximum(_ALIGNED_WIDTH_LUT[bits_used(mx.astype(U64))], 2)
            dwc[vd_local] = _ENCODE_BIT_WIDTH_LUT[vdw]
        rows, hl = _delta_rows(ll[fvk] - 1, dwc, _zigzag(v[la[fvk]], signed),
                               zigzag_encode(first_delta[fvk]))
        heads.append((lit_sids[fvk], rows, hl))
        if len(vd_local):
            packs.append((lit_sids[vks], hl[vd_local], abs_rest, st, counts,
                          vdw))

    pk = np.nonzero(cat == _CAT_PATCHED)[0]
    if len(pk):
        bases = vmin[pk]
        base_bw_bits = _FIXED_BITS_LUT[bits_used(np.abs(bases).astype(U64)) + 1]
        base_bytes = np.maximum((base_bw_bits + 7) // 8, 1)
        t95p = pb_t95[pk]
        brl_w = _FIXED_BITS_LUT[t95p]
        pgw = pb_pgw[pk]
        pbw = pb_pbw[pk]
        np_plen = pb_nplen[pk]
        el = ll[pk] - 1
        msb = np.where(bases < 0,
                       np.abs(bases).astype(U64)
                       | (U64(1) << (base_bytes * 8 - 1).astype(U64)),
                       bases.astype(U64))
        rows, head_len = _rows(
            _HDR_PATCHED_BASE | (_ENCODE_BIT_WIDTH_LUT[t95p] << 1) | (el >> 8),
            el & 0xFF,
            ((base_bytes - 1) << 5) | _ENCODE_BIT_WIDTH_LUT[pbw],
            ((pgw - 1) << 5) | np_plen,
            _be_matrix(msb, base_bytes))
        heads.append((lit_sids[pk], rows, head_len))

        # base-reduce ONLY the patched blocks' elements, in block order
        e_ll = ll[pk]
        tote = int(e_ll.sum())
        pst = np.zeros(K, dtype=np.int64)  # block start in brl
        pst[pk] = np.cumsum(e_ll) - e_ll
        eidx = (np.arange(tote, dtype=np.int32)
                + np.repeat((bnd[pk] - pst[pk]).astype(np.int32), e_ll))
        brl = (g[eidx] - np.repeat(vmin[pk].astype(idt), e_ll)).view(udt)
        # strip the patched values' high bits at their positions
        live = cat[pb_] == _CAT_PATCHED  # interop reroutes drop out
        spos = pst[pb_[live]] + rel[live]
        brl[spos] &= (udt(1) << thr_p[live].astype(udt)) - udt(1)
        packs.append((lit_sids[pk], head_len, brl, pst[pk], e_ll, brl_w))

        # patch lists: every block's words (incl. jump markers) sit
        # concatenated in pb_ order; a block without patches packs none
        wst = np.zeros(K, dtype=np.int64)
        wst[vb_ids] = np.cumsum(plens_vec) - plens_vec
        packs.append((lit_sids[pk], head_len + (e_ll * brl_w + 7) // 8,
                      words, wst[pk], np_plen, _FIXED_BITS_LUT[pgw + pbw]))


# ---------------------------------------------------------------------------
# Decoder: header scan -> one width-agnostic unpack per block kind ->
# positional scatter (`mod.rs:103-176` block loop).
# ---------------------------------------------------------------------------

# Python-list LUT for the 5-bit width codes: C-speed list indexing in
# the header walk, where a function call per block is ~3x the cost
_DECODE_BW_PY = [rle_v2_decode_bit_width(c) for c in range(32)]


def _scatter(out: np.ndarray, offsets: np.ndarray, lens: np.ndarray,
             vals: np.ndarray) -> None:
    """Write concatenated per-block values to their output positions
    (int32 index arithmetic when the output fits — pure memory
    traffic; int64 fallback past 2^31 values)."""
    it = np.int32 if len(out) < 2**31 else np.int64
    off = np.asarray(offsets).astype(it, copy=False)
    ln = np.asarray(lens).astype(it, copy=False)
    starts = np.zeros(len(ln), dtype=it)
    np.cumsum(ln[:-1], out=starts[1:])
    total = int(ln.sum(dtype=np.int64))
    idx = np.repeat(off - starts, ln)
    # add the cached iota in place: one fewer full-length temp + write
    idx += iota32(total) if it is np.int32 \
        else np.arange(total, dtype=it)
    out[idx] = vals


def _window_u64(pad: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Big-endian u64 of the 8 bytes at each position (pad is the
    zero-extended buffer)."""
    win = sliding_window_view(pad, 8)[pos]
    return np.ascontiguousarray(win).view(">u8").ravel().astype(U64,
                                                               copy=False)


def _varint_values(pad: np.ndarray, q: np.ndarray,
                   nbytes: np.ndarray) -> np.ndarray:
    """Vectorized LEB128 reads: varint k starts at q[k] and spans
    nbytes[k] bytes.  Returns uint64 values."""
    k = len(q)
    out = np.zeros(k, dtype=U64)
    if not k:
        return out
    M = int(nbytes.max())
    for i in range(M):
        live = nbytes > i
        b = pad[q + i]
        out |= ((b & np.uint8(0x7F)).astype(U64)
                << U64(7 * i)) * live.astype(U64)
    return out


def _varint_len(last: np.ndarray) -> np.ndarray:
    """Byte length of each row's varint from its window of
    last-byte flags (continuation bit clear); a u64 varint ends within
    10 bytes, so a row with no last byte in its window is corrupt."""
    if not last.any(axis=1).all():
        raise ValueError("RLEv2 delta header varint runs past 10 bytes")
    return np.argmax(last, axis=1) + 1


# header-walk LUTs indexed by the FULL header byte (or, for the
# patched-base patch-word width, by ((third & 0x1F) << 3) | (fourth >> 5)):
# the sequential scan's only job is advancing pos/got, so everything
# derivable from the fixed header bytes is a C-speed list lookup
_SR_LEN_PY = [(h & 0x07) + 3 for h in range(256)]
_SR_ADV_PY = [2 + ((h >> 3) & 0x07) for h in range(256)]
_HW_PY = [_DECODE_BW_PY[(h >> 1) & 0x1F] for h in range(256)]
_HW0_PY = [0 if ((h >> 1) & 0x1F) == 0 else _DECODE_BW_PY[(h >> 1) & 0x1F]
           for h in range(256)]
_PBW_PY = [get_closest_fixed_bits(
    min(_DECODE_BW_PY[i >> 3] + (i & 0x07) + 1, 64)) for i in range(256)]
_BW_NP = np.array(_DECODE_BW_PY, dtype=np.int64)
_PBW_NP = np.array(_PBW_PY, dtype=np.int64)


def rle_v2_decode(buf, n: int, signed: bool = True, exact: bool = True,
                  out_dtype=I64) -> np.ndarray:
    """Decode n values from an RLEv2 byte stream.

    Sequential header scan (one list append per block: only sizes
    advance it — every per-block FIELD parse is deferred to vectorized
    gathers over the recorded block-start positions; a fully
    speculative vectorized scan was tried and lost, see git history).
    Each block kind's payload is then unpacked in one pass over all its
    blocks, whatever their widths (`bitpack.unpack_segments`): the cost
    no longer grows with the number of distinct widths in a stream,
    which on ~150k-token stripes was most of the decode time.

    ``exact=False`` tolerates the final block overshooting n (a
    row-group slice of an externally written stream ends mid-block);
    the result is truncated to n.

    ``out_dtype`` narrows the OUTPUT array only (callers that know the
    column is int32/int16 skip a full astype pass and halve the write
    traffic of the largest array here); every decoded value must fit
    the dtype — the scatter assignments truncate silently otherwise."""
    if n == 0:
        return np.empty(0, dtype=out_dtype)
    buf = memoryview(buf)
    raw = np.frombuffer(buf, dtype=np.uint8)
    # +512 slack: one RLEv2 block holds at most 512 values
    out = np.empty(n + 512, dtype=out_dtype)

    # --- sequential header walk -------------------------------------
    # bytes.__getitem__ beats memoryview indexing, the byte-length
    # formula is inlined ((n*w+7)>>3 equals the aligned form for every
    # w), and on run-dense token streams a block averages ~20 bytes, so
    # the constant factor per iteration IS the decode throughput.
    bb = bytes(buf)
    sr_len_l = _SR_LEN_PY
    sr_adv_l = _SR_ADV_PY
    hw_l = _HW_PY
    hw0_l = _HW0_PY
    pbw_l = _PBW_PY
    posl: list[int] = []
    app = posl.append
    got = 0
    pos = 0
    while got < n:
        h = bb[pos]
        app(pos)
        kind = h & 0xC0
        if kind == 0x00:            # short repeat
            got += sr_len_l[h]
            pos += sr_adv_l[h]
        elif kind == 0x80:          # patched base
            length = (((h & 0x01) << 8) | bb[pos + 1]) + 1
            third = bb[pos + 2]
            fourth = bb[pos + 3]
            pos += (5 + ((third >> 5) & 0x07)
                    + ((length * hw_l[h] + 7) >> 3)
                    + (((fourth & 0x1F)
                        * pbw_l[((third & 0x1F) << 3) | (fourth >> 5)]
                        + 7) >> 3))
            got += length
        elif kind == 0x40:          # direct
            length = (((h & 0x01) << 8) | bb[pos + 1]) + 1
            pos += 2 + ((length * hw_l[h] + 7) >> 3)
            got += length
        else:                       # delta: skip base + delta varints
            length = (((h & 0x01) << 8) | bb[pos + 1]) + 1
            p = pos + 2
            while bb[p] & 0x80:
                p += 1
            p += 1
            while bb[p] & 0x80:
                p += 1
            p += 1
            w = hw0_l[h]
            pos = p + (((length - 2) * w + 7) >> 3) if w else p
            got += length
    if exact and got != n:
        raise ValueError(f"decoded {got} values, expected {n}")

    # --- vectorized field derivation from the block starts -----------
    # +24 pad: 8 for _window_u64 and unpack_segments, 20 for the delta
    # varint windows
    pad = np.zeros(len(raw) + 24, dtype=np.uint8)
    pad[:len(raw)] = raw
    pos_a = np.array(posl, dtype=np.int64)
    hh = pad[pos_a].astype(np.int64)
    kk = hh >> 6
    second = pad[pos_a + 1].astype(np.int64)
    ln_a = np.where(kk == 0, (hh & 7) + 3, ((hh & 1) << 8 | second) + 1)
    off_a = np.zeros(len(pos_a), dtype=np.int64)
    np.cumsum(ln_a[:-1], out=off_a[1:])
    ww = _BW_NP[(hh >> 1) & 0x1F]

    # short repeat: big-endian value bytes at pos+1
    m = kk == 0
    if m.any():
        bwv = ((hh[m] >> 3) & 7) + 1
        vals_u = _window_u64(pad, pos_a[m] + 1) >> ((8 - bwv) * 8).astype(U64)
        vals = zigzag_decode(vals_u) if signed else vals_u.view(I64)
        if len(vals) and -2**31 <= int(vals.min()) \
                and int(vals.max()) < 2**31:
            # the repeat-expanded array is the big one: emit it int32
            vals = vals.astype(np.int32)
        lnm = ln_a[m]
        _scatter(out, off_a[m], lnm, np.repeat(vals, lnm))

    # direct: every block's data in one unpack, whatever its width
    m = kk == 1
    if m.any():
        ln_d = ln_a[m]
        vals_u = unpack_segments(pad, pos_a[m] + 2, ww[m], ln_d)
        # u32 (every width <= 25) zigzags in 32 bits, and unsigned u32
        # scatters straight through with a widening assign
        vals = zigzag_decode(vals_u) if signed \
            else vals_u if vals_u.dtype == np.uint32 else vals_u.view(I64)
        _scatter(out, off_a[m], ln_d, vals)

    # delta: varint spans recovered from the continuation bits in one
    # 20-byte window gather per block (two u64 varints are <= 20 bytes)
    m = kk == 3
    if m.any():
        q1 = pos_a[m] + 2
        win = sliding_window_view(pad, 20)[q1]
        last = (win & 0x80) == 0
        b1 = _varint_len(last[:, :10])
        rows = np.arange(len(q1))[:, None]
        b2 = _varint_len(last[rows, b1[:, None] + np.arange(10)[None, :]])
        base_u = _varint_values(pad, q1, b1)
        delta_u = _varint_values(pad, q1 + b1, b2)
        base = zigzag_decode(base_u) if signed else base_u.view(I64)
        delta = zigzag_decode(delta_u)
        code_d = (hh[m] >> 1) & 0x1F
        wl = np.where(code_d == 0, 0, ww[m])
        ln_l = ln_a[m]
        off_l = off_a[m]
        dp = q1 + b1 + b2
        fdm = wl == 0
        if fdm.any():
            ln = ln_l[fdm]
            starts = np.zeros(len(ln), dtype=np.int64)
            np.cumsum(ln[:-1], out=starts[1:])
            total = int(ln.sum())
            if total < 2**31:
                pos_in = np.repeat(-starts.astype(np.int32), ln)
                pos_in += iota32(total)
            else:
                pos_in = np.arange(total, dtype=np.int64) \
                    - np.repeat(starts, ln)
            vals = np.repeat(base[fdm], ln) + pos_in * np.repeat(delta[fdm], ln)
            _scatter(out, off_l[fdm], ln, vals)
        vdm = ~fdm
        if vdm.any():
            # the first two values come from the header; the rest are a
            # signed running sum of the unpacked deltas, one cumsum over
            # every block, rebased at each block's start
            lnv = ln_l[vdm]
            offv = off_l[vdm]
            basev = base[vdm]
            deltav = delta[vdm]
            signv = np.where(deltav > 0, np.int64(1), np.int64(-1))
            dlens = lnv - 2
            deltas = unpack_segments(pad, dp[vdm], wl[vdm],
                                     dlens).astype(I64)
            deltas *= np.repeat(signv, dlens)
            c = np.zeros(len(deltas) + 1, dtype=np.int64)
            np.cumsum(deltas, out=c[1:])
            starts = np.zeros(len(dlens), dtype=np.int64)
            np.cumsum(dlens[:-1], out=starts[1:])
            second_v = basev + signv * np.abs(deltav)
            vals_tail = np.repeat(second_v - c[starts], dlens) + c[1:]
            _scatter(out, offv + 2, dlens, vals_tail)
            out[offv] = basev
            out[offv + 1] = second_v

    # patched base: data and patch words each in one unpack
    m = kk == 2
    if m.any():
        wp = ww[m]
        ln_p = ln_a[m]
        third = pad[pos_a[m] + 2].astype(np.int64)
        fourth = pad[pos_a[m] + 3].astype(np.int64)
        bwp = ((third >> 5) & 7) + 1
        paw = _BW_NP[third & 0x1F]
        plp = fourth & 0x1F
        pww = _PBW_NP[((third & 0x1F) << 3) | (fourth >> 5)]
        bpos = pos_a[m] + 4
        dpos = bpos + bwp
        ppos = dpos + ((ln_p * wp + 7) >> 3)
        # sign-MSB bases, vectorized
        braw = _window_u64(pad, bpos) >> ((8 - bwp) * 8).astype(U64)
        msb = U64(1) << (bwp * 8 - 1).astype(U64)
        mag = (braw & ~msb).view(I64)
        basep = np.where((braw & msb) != 0, -mag, mag)

        # 32-bit domain when provably exact: every patched value is
        # < 2^(w + patch_value_width) and base + that bound stays inside
        # int32 — the token hot path (zipf ids, widths 5-16) qualifies
        # wholesale, halving the traffic of the patch, base-expand and
        # add passes
        maxbits = int((wp + paw).max())
        use32 = (maxbits <= 31 and int(basep.min()) >= -(2**31)
                 and int(basep.max()) + (1 << maxbits) - 1 <= 2**31 - 1)
        udt = np.uint32 if use32 else U64
        data_u = unpack_segments(pad, dpos, wp, ln_p).astype(udt, copy=False)
        starts = np.zeros(len(ln_p), dtype=np.int64)
        np.cumsum(ln_p[:-1], out=starts[1:])
        # patch words, jump-resolved with an inclusive segmented cumsum
        # (jump markers emit no patch but contribute their 255 gap)
        words = unpack_segments(pad, ppos, pww, plp)
        paw_e = np.repeat(paw, plp).astype(words.dtype)
        gaps = (words >> paw_e).astype(np.int64)
        pvals = words & ((words.dtype.type(1) << paw_e) - words.dtype.type(1))
        emit = (gaps != 255) | (pvals != 0)
        c = np.zeros(len(gaps) + 1, dtype=np.int64)
        np.cumsum(gaps, out=c[1:])
        w0 = np.zeros(len(plp), dtype=np.int64)
        np.cumsum(plp[:-1], out=w0[1:])
        abs_pos = np.repeat(starts - c[w0], plp) + c[1:]
        data_u[abs_pos[emit]] |= (pvals[emit].astype(udt)
                                  << np.repeat(wp, plp)[emit].astype(udt))
        if use32:
            vals = data_u.view(np.int32) \
                + np.repeat(basep.astype(np.int32), ln_p)
        else:
            vals = (data_u + np.repeat(basep.astype(U64), ln_p)).view(I64)
        _scatter(out, off_a[m], ln_p, vals)
    return out[:n]
