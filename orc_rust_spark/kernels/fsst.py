"""FSST string compression (Boncz, Neumann, Leis: "FSST: Fast Random
Access String Compression", VLDB 2020) — a from-scratch implementation,
NOT present in the reference (`src/array_decoder/string.rs:58-83` only
has direct + dictionary; SURVEY §2.7), required by BASELINE.json
north_star ("FSST symbol tables for strings").

Format (ours; self-describing blob):
    u8  n_symbols (<= 255)
    u8  lengths[n_symbols] (1..8)
    ..  symbol bytes, concatenated
    varint n_codes
    ..  code stream: one byte per code; 255 = escape, next byte literal

Implementation notes:
- Symbol table learned on a bounded sample with the paper's iterative
  scheme: parse with the current table, count symbol and adjacent-pair
  frequencies, keep the 254 highest-gain (count * length) candidates.
- Encoding computes the longest symbol match at EVERY byte position
  vectorized (1-/2-byte LUTs plus a lossy 3-byte-prefix hash for longer
  symbols, see `SymbolTable`), then enumerates the greedy parse chain with
  jump-pointer composition (see `_parse`) — no per-code Python loop.
- Decoding is fully vectorized: code -> (length, bytes) table expansion
  via np.repeat over a (n_symbols, 8) byte matrix.
"""

from __future__ import annotations

import numpy as np

from .util import U64, read_varint, write_varint

MAX_SYMBOLS = 254  # code 255 = escape; one spare to keep codes < 255
MAX_LEN = 8
ESCAPE = 255


_H3_BITS = 16  # 65536 slots for <=254 long symbols: collisions ~0.2%
_H3_MULT = np.uint32(0x9E3779B1)  # Fibonacci hashing of the 3-byte prefix


class SymbolTable:
    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        self.symbols = symbols
        # longest-match acceleration — the paper's lossy perfect hash
        # (§4 "fast symbol table"): direct LUTs for 1- and 2-byte
        # symbols; for len >= 3 a single-slot hash on the 3-byte prefix
        # returning (code, len) in ONE probe.  Lossy means at most one
        # long symbol per slot: a symbol whose slot is already claimed
        # (earlier = higher gain, symbols arrive ranked) simply never
        # matches — it stays in the table and decodes fine, it just
        # isn't emitted.  This replaces the 21-pass shrinking bucket
        # probe that capped match throughput at ~4 MB/s/core.
        self._lut1 = np.full(256, -1, dtype=np.int32)
        self._lut2 = np.full(65536, -1, dtype=np.int32)
        H = 1 << _H3_BITS
        self._h3code = np.full(H, -1, dtype=np.int32)
        nsym = max(len(symbols), 1)
        keys = np.zeros(nsym, dtype=U64)
        lens = np.zeros(nsym, dtype=np.int64)
        if symbols:
            # left-aligned u64 keys + lengths for ALL symbols, one
            # frombuffer instead of a per-symbol shift loop (train
            # builds 5 tables per column-stripe; this loop was ~40% of
            # its fixed cost)
            buf = b"".join(s.ljust(MAX_LEN, b"\0") for s in symbols)
            keys[: len(symbols)] = np.frombuffer(buf, dtype=">u8")
            lens[: len(symbols)] = np.fromiter(
                (len(s) for s in symbols), dtype=np.int64, count=len(symbols))
        self._keys, self._lens = keys, lens
        codes = np.arange(len(symbols), dtype=np.int32)
        s1 = lens[: len(symbols)] == 1
        self._lut1[(keys[: len(symbols)][s1] >> U64(56)).astype(np.int64)] = codes[s1]
        s2 = lens[: len(symbols)] == 2
        self._lut2[(keys[: len(symbols)][s2] >> U64(48)).astype(np.int64)] = codes[s2]
        long = lens >= 3
        # nonzero length/key ONLY for len>=3 symbols: the frontier parse
        # gates on (_h3len > 0).any() to detect long symbols
        self._h3len = np.where(long, lens, 0)
        self._h3key = np.where(long, keys, U64(0))
        s3 = long[: len(symbols)]
        key3 = (keys[: len(symbols)][s3] >> U64(40)).astype(np.uint32)
        slots = ((key3 * _H3_MULT) >> np.uint32(32 - _H3_BITS)).astype(np.int64)
        # first symbol (highest gain) claims a contested slot: reversed
        # scatter makes the earliest write the surviving one
        self._h3code[slots[::-1]] = codes[s3][::-1]
        # per-code gather tables for the frontier parse: one gather each
        # replaces shift/or/astype chains in the per-round hot loop
        self._h3shift = ((MAX_LEN - self._h3len) * 8).astype(U64)
        self._h3packed = ((np.arange(len(self._h3len), dtype=np.int64) << 4)
                          | self._h3len).astype(np.int32)

    def _lut2p(self) -> np.ndarray:
        """Packed (code<<4)|len LUT over 2-byte prefixes, merging the
        1- and 2-byte symbol tables (2-byte symbols take priority —
        longest match).  Built lazily; used by the frontier parse."""
        lut = getattr(self, "_lut2p_cache", None)
        if lut is None:
            lut = np.zeros(65536, dtype=np.int32)
            for c, s in enumerate(self.symbols):
                if len(s) == 1:
                    lut[s[0] << 8: (s[0] + 1) << 8] = (c << 4) | 1
            for c, s in enumerate(self.symbols):
                if len(s) == 2:
                    lut[(s[0] << 8) | s[1]] = (c << 4) | 2
            self._lut2p_cache = lut
        return lut

    def match_packed(self, data: np.ndarray) -> np.ndarray:
        """Vectorized longest-match: per position, one int32
        ``(code << 4) | match_len``; 0 => escape (2 output bytes for 1
        input byte).  One array and one masked scatter per priority
        class — the split (mlen, mcode) pair paid double the write
        traffic."""
        n = len(data)
        m = np.zeros(n, dtype=np.int32)
        if n == 0:
            return m
        # 1-byte LUT (weakest priority — assigned first, overwritten later)
        c1 = self._lut1[data]
        h1 = c1 >= 0
        m[h1] = (c1[h1] << np.int32(4)) | np.int32(1)
        key3 = None
        if n >= 3 and len(self.symbols):
            key3 = ((data[:-2].astype(np.uint32) << np.uint32(16))
                    | (data[1:-1].astype(np.uint32) << np.uint32(8))
                    | data[2:])
        # 2-byte LUT — the prefix is the top 16 bits of key3 when that
        # was already built (saves the int32 shift/or passes)
        if n >= 2:
            if key3 is not None:
                c2 = self._lut2[key3 >> np.uint32(8)]
                last2 = (np.uint32(data[-2]) << np.uint32(8)) | data[-1]
                c2 = np.concatenate((c2, self._lut2[[last2]]))
            else:
                d32 = data.astype(np.int32)
                c2 = self._lut2[(d32[:-1] << np.int32(8)) | d32[1:]]
            h2 = c2 >= 0
            m[:-1][h2] = (c2[h2] << np.int32(4)) | np.int32(2)
        # len>=3: one hash probe per position
        if key3 is not None:
            slot = (key3 * _H3_MULT) >> np.uint32(32 - _H3_BITS)
            c3 = self._h3code[slot]
            cand = np.nonzero(c3 >= 0)[0]
            if len(cand):
                cc = c3[cand].astype(np.int64)
                ln3 = self._h3len[cc]
                # full 8-byte keys only at candidate positions: the
                # all-positions key build moved 8n bytes for a (usually)
                # much smaller verified set
                padded = np.zeros(n + MAX_LEN, dtype=np.uint8)
                padded[:n] = data
                from numpy.lib.stride_tricks import sliding_window_view
                fk = np.ascontiguousarray(
                    sliding_window_view(padded, MAX_LEN)[cand]) \
                    .view(">u8").ravel().astype(U64, copy=False)
                shift = (np.int64(8) * (np.int64(MAX_LEN) - ln3)).astype(U64)
                hit = ((fk >> shift) << shift == self._h3key[cc]) \
                    & (cand + ln3 <= n)
                ph = cand[hit]
                m[ph] = ((cc[hit] << np.int64(4)) | ln3[hit]).astype(np.int32)
        return m

    def match_tables(self, data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(match_len, code) pair view of `match_packed` (kept for tests
        and external callers)."""
        m = self.match_packed(data)
        return m & np.int32(15), m >> np.int32(4)

    def to_bytes(self) -> bytes:
        out = bytearray()
        out.append(len(self.symbols))
        out.extend(len(s) for s in self.symbols)
        for s in self.symbols:
            out.extend(s)
        return bytes(out)

    @classmethod
    def from_buffer(cls, buf, pos: int) -> tuple["SymbolTable", int]:
        n = buf[pos]
        pos += 1
        lens = bytes(buf[pos: pos + n])
        pos += n
        syms = []
        for ln in lens:
            syms.append(bytes(buf[pos: pos + ln]))
            pos += ln
        return cls(syms), pos


def _chain(mlen: np.ndarray) -> np.ndarray:
    """Visited positions of the greedy parse (jump-pointer enumeration;
    see `_parse`)."""
    n = len(mlen)
    it = np.int32 if n < 2**31 - MAX_LEN else np.int64
    step = np.maximum(mlen, 1).astype(it, copy=False)
    nxt = np.arange(n, dtype=it) + step
    np.minimum(nxt, it(n), out=nxt)
    nxt_ext = np.concatenate((nxt, np.array([n], dtype=it)))

    # adaptive block, capped low: each doubling of BLOCK costs one FULL
    # composition gather over n (the dominant traffic), while the scalar
    # start walk it saves only touches ~0.2n/BLOCK positions — measured
    # fastest around 2^5 on 1.5MB text, and small caps also avoid the
    # fixed gather overhead on the tiny training samples
    logb = min(max((n.bit_length() + 1) // 2, 4), 5)
    BLOCK = 1 << logb
    J = nxt_ext
    for _ in range(logb):  # 2^logb = BLOCK codes per jump
        J = J[J]
    starts = [0]
    b = int(J[0])
    while b < n:
        starts.append(b)
        b = int(J[b])
    S = np.array(starts, dtype=it)
    P = np.empty((BLOCK, len(S)), dtype=it)
    P[0] = S
    for s in range(1, BLOCK):
        P[s] = nxt_ext[P[s - 1]]
    chain = P.T.ravel()
    return chain[chain < n]  # sentinel-clipped tail of the last block


def _parse(data: np.ndarray, table: SymbolTable) -> np.ndarray:
    """Greedy left-to-right parse, fully vectorized.

    The greedy parse is a walk of the functional graph
    ``i -> i + max(match_len(i), 1)``; every jump target is computed for
    every position by ``match_tables`` up front, so the visited chain
    can be enumerated without a per-code Python loop:

    1. compose the jump array with itself 10 times -> J jumps 1024
       codes at once; walk J from 0 for the ~V/1024 block starts
       (a tiny scalar loop),
    2. expand all blocks in lockstep: 1024 numpy gathers, each over
       #blocks positions (total work = V gathers, vectorized),
    3. emit codes/escapes for the visited positions with masked
       scatters.

    Byte-identical to the sequential greedy parse; ~50x faster."""
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    m = table.match_packed(data)
    chain = _chain(m & np.int32(15))
    mc = m[chain]  # packed (code, len) gathered once at chain positions
    esc = mc == 0
    out_sz = np.where(esc, 2, 1)
    offs = np.zeros(len(chain) + 1, dtype=np.int64)
    np.cumsum(out_sz, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    pos0 = offs[:-1]
    out[pos0[~esc]] = (mc[~esc] >> np.int32(4)).astype(np.uint8)
    out[pos0[esc]] = ESCAPE
    out[pos0[esc] + 1] = data[chain[esc]]
    return out


_FRONTIER_MIN = 1 << 17  # below this the all-positions parse wins
_SEG = 512               # bytes per lockstep chain


def _lockstep(data: np.ndarray, table: SymbolTable, win,
              starts: np.ndarray, ends: np.ndarray,
              visited: np.ndarray | None):
    """Advance one greedy chain per row of `starts` in lockstep until
    each reaches its `ends` position — or, when `visited` is given,
    lands on a position the speculative parse already visited (resync).

    Matches are constrained only by the end of DATA (a chain's last
    match may overrun its segment end — exactly like the sequential
    parse).  Returns (rounds, R, stops, sync): `rounds` holds per-round
    (chain-row-ids, packed-match, position) triples; `stops` the first
    position at/past `ends` per chain; `sync` the resync position or -1.
    """
    n = len(data)
    lut2p = table._lut2p()
    h3code, h3key = table._h3code, table._h3key
    h3shift, h3packed = table._h3shift, table._h3packed
    have3 = len(table.symbols) and bool((table._h3len > 0).any())
    i32_1 = np.int32(1)
    i32_15 = np.int32(15)

    C = len(starts)
    P = starts.astype(np.int64, copy=True)
    ends = ends.astype(np.int64, copy=False)
    ids = np.arange(C, dtype=np.int64)
    stops = P.copy()
    sync = np.full(C, -1, dtype=np.int64)
    rounds: list[tuple[np.ndarray, np.ndarray, np.ndarray, int]] = []
    r = 0
    # a chain may START at/past its end (a previous chain's overrun
    # consumed a short final segment entirely): it emits nothing
    done0 = P >= ends
    if done0.any():
        keep0 = ~done0
        P, ends, ids = P[keep0], ends[keep0], ids[keep0]
    while len(P):
        if visited is not None:
            s = visited[P]
            if s.any():
                sync[ids[s]] = P[s]
                stops[ids[s]] = P[s]
                keep = ~s
                P, ends, ids = P[keep], ends[keep], ids[keep]
                if not len(P):
                    break
        fk = np.ascontiguousarray(win[P]).view(">u8").ravel() \
            .astype(U64, copy=False)
        avail = n - P
        m = lut2p[(fk >> U64(48)).astype(np.int64)]
        if have3:
            key3 = (fk >> U64(40)).astype(np.uint32) * _H3_MULT
            slot = key3 >> np.uint32(32 - _H3_BITS)
            c3 = h3code[slot]
            cc = np.maximum(c3, 0)
            shift = h3shift[cc]
            hit = ((fk >> shift) << shift == h3key[cc]) & (c3 >= 0)
            pk3 = h3packed[cc]
            hit &= (pk3 & i32_15) <= avail
            m = np.where(hit, pk3, m)
        mlen = m & i32_15
        bad = mlen > avail  # only near end of data
        if bad.any():
            m = np.where(bad, np.int32(0), m)
            mlen = np.where(bad, np.int32(0), mlen)
        rounds.append((ids, m, P, r))
        P = P + np.maximum(mlen, i32_1)
        done = P >= ends
        if done.any():
            stops[ids[done]] = P[done]
            keep = ~done
            P, ends, ids = P[keep], ends[keep], ids[keep]
        r += 1
    return rounds, r, stops, sync


def _rounds_matrix(rounds, R: int, C: int):
    """Chain-major (C*R) matrices of packed matches (-1 = no token) and
    positions from lockstep rounds."""
    M = np.full(max(R * C, 1), -1, dtype=np.int32)
    PP = np.empty(max(R * C, 1), dtype=np.int64)
    for ids_r, m_r, p_r, rr in rounds:
        base = ids_r * R + rr
        M[base] = m_r
        PP[base] = p_r
    return M, PP


def _parse_frontier(data: np.ndarray, table: SymbolTable) -> np.ndarray:
    """Greedy parse computing matches ONLY at visited positions —
    byte-identical output to `_parse`.

    `_parse` matches every byte position (~12 passes over n) although
    the greedy chain visits only ~19% of them.  Here the input is cut
    into `_SEG`-byte segments, one speculative greedy chain per
    segment, all advanced in lockstep (pass A): each round gathers the
    u64 windows at the frontier positions, probes the packed 2-byte
    LUT and the lossy 3-byte-prefix hash, emits one token per live
    chain, and steps; finished chains are compacted away, so element
    work is O(visited).

    A speculative chain starts at its segment boundary while the TRUE
    parse enters the segment wherever the previous chain's final match
    ended.  Pass B walks exactly that tail: from each chain's stop
    position into the next segment until it lands on a position the
    speculative chain visited — greedy parsing is self-synchronizing,
    so from that point the speculative tokens ARE the true parse.  The
    spliced result (fix-up tokens, then speculative tokens from the
    sync position on) reproduces the sequential greedy parse exactly;
    chains that never resync (pathological) fall through to extra
    waves that re-walk the following boundary."""
    from numpy.lib.stride_tricks import sliding_window_view

    n = len(data)
    C = (n + _SEG - 1) // _SEG
    padded = np.zeros(n + MAX_LEN, dtype=np.uint8)
    padded[:n] = data
    win = sliding_window_view(padded, MAX_LEN)

    seg_start = np.arange(C, dtype=np.int64) * _SEG
    seg_end = np.minimum(seg_start + _SEG, n)

    # pass A: speculative chains
    rounds, R1, stopsA, _ = _lockstep(data, table, win,
                                      seg_start, seg_end, None)
    M, PP = _rounds_matrix(rounds, R1, C)
    tokA = M >= 0
    visited = np.zeros(n + MAX_LEN, dtype=bool)
    visited[PP[tokA]] = True

    # pass B: boundary fix-up (chain c's true entry = stop of the
    # corrected chain c-1).  One vectorized wave walks every boundary
    # from the speculative stops.  A walk that never resyncs ends where
    # the true parse enters the next segment, so the next chain's wave
    # walk is stale: re-walk it from that stop, and so on until a walk
    # resyncs — only then is the following chain's wave walk valid
    # again, and a wave miss inside a re-walked run is itself stale.
    keep_from = seg_start.copy()           # originals kept from pos >=
    n1 = np.zeros(C, dtype=np.int64)       # fix-up token count per chain
    f_chains = np.arange(1, C, dtype=np.int64)
    B = len(f_chains)
    b_rounds, R2, stops2, sync2 = _lockstep(
        data, table, win, stopsA[:-1], seg_end[1:], visited)
    M2, PP2 = _rounds_matrix(b_rounds, R2, B)
    maskF = M2[: R2 * B] >= 0
    f_counts = maskF.reshape(B, max(R2, 1)).sum(axis=1) if R2 else \
        np.zeros(B, dtype=np.int64)
    f_tokens, f_pos = M2[: R2 * B][maskF], PP2[: R2 * B][maskF]
    n1[1:] = f_counts
    keep_from[1:] = np.where(sync2 >= 0, sync2, n)
    override: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    c = 1
    for m in (np.nonzero(sync2 < 0)[0] + 1).tolist():
        if m < c:
            continue
        c, stop = m + 1, stops2[m - 1: m]
        while c < C:
            r_rounds, R3, stop, sync = _lockstep(
                data, table, win, stop, seg_end[c: c + 1], visited)
            M3, PP3 = _rounds_matrix(r_rounds, R3, 1)
            tok = M3[:R3] >= 0
            override[c] = (M3[:R3][tok], PP3[:R3][tok])
            n1[c] = int(tok.sum())
            keep_from[c] = sync[0] if sync[0] >= 0 else n
            c += 1
            if sync[0] >= 0:
                break

    # assembly: per chain, fix-up tokens then kept speculative tokens
    chain_of = np.repeat(np.arange(C, dtype=np.int64), R1)
    keepA = tokA & (PP >= keep_from[chain_of])
    n2 = keepA.reshape(C, max(R1, 1)).sum(axis=1) if R1 else \
        np.zeros(C, dtype=np.int64)
    off = np.zeros(C + 1, dtype=np.int64)
    np.cumsum(n1 + n2, out=off[1:])
    total = int(off[-1])
    tokens = np.empty(total, dtype=np.int32)
    tpos = np.empty(total, dtype=np.int64)
    # wave-1 fix-up tokens arrive grouped by ascending chain
    live = np.array([c not in override for c in f_chains.tolist()],
                    dtype=bool) if override else np.ones(len(f_chains),
                                                         dtype=bool)
    lc, lcounts = f_chains[live], f_counts[live]
    el = np.repeat(live, f_counts)
    ltok, lpos_ = f_tokens[el], f_pos[el]
    totF = int(lcounts.sum())
    if totF:
        cf = np.zeros(len(lcounts), dtype=np.int64)
        np.cumsum(lcounts[:-1], out=cf[1:])
        idxF = (np.repeat(off[lc], lcounts)
                + (np.arange(totF, dtype=np.int64) - np.repeat(cf, lcounts)))
        tokens[idxF] = ltok
        tpos[idxF] = lpos_
    for c, (m_c, p_c) in override.items():
        o = int(off[c])
        tokens[o: o + len(m_c)] = m_c
        tpos[o: o + len(m_c)] = p_c
    # kept speculative tokens are chain-contiguous in the (C,R1) layout
    totK = int(n2.sum())
    if totK:
        chains_k = np.repeat(np.arange(C, dtype=np.int64), n2)
        cum2 = np.zeros(C, dtype=np.int64)
        np.cumsum(n2[:-1], out=cum2[1:])
        rank = np.arange(totK, dtype=np.int64) - np.repeat(cum2, n2)
        out_idx = off[chains_k] + n1[chains_k] + rank
        tokens[out_idx] = M[: R1 * C][keepA]
        tpos[out_idx] = PP[: R1 * C][keepA]

    esc = tokens == 0
    out_sz = np.where(esc, 2, 1)
    offs = np.zeros(len(tokens) + 1, dtype=np.int64)
    np.cumsum(out_sz, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    pos0 = offs[:-1]
    out[pos0[~esc]] = (tokens[~esc] >> np.int32(4)).astype(np.uint8)
    out[pos0[esc]] = ESCAPE
    out[pos0[esc] + 1] = data[tpos[esc]]
    return out


def train(data: np.ndarray, iterations: int = 4,
          sample_bytes: int = 1 << 14) -> SymbolTable:
    """Iterative symbol-table construction on a bounded sample (paper §3).

    Each iteration parses the sample with the current table (chain
    enumeration, no per-code Python), then counts symbols and adjacent
    concatenations with integer-key bincount/unique — byte strings are
    materialized only for the few hundred distinct candidates."""
    sample = data[:sample_bytes]
    table = SymbolTable([])
    for _ in range(iterations):
        m = table.match_packed(sample)
        chain = _chain(m & np.int32(15))
        mc = m[chain]
        ml = mc & np.int32(15)
        # symbol identity per parsed token: code, or 256+byte for escapes
        sym_id = np.where(ml > 0, (mc >> np.int32(4)).astype(np.int64),
                          256 + sample[chain].astype(np.int64))
        nsym = len(table.symbols)
        # per-id length and left-aligned u64 byte key (ids 0..255 =
        # codes, 256..511 = escape bytes); a counted pair concatenates
        # to <= MAX_LEN == 8 bytes, so every candidate's BYTES fit one
        # u64 key — merging and ranking stay entirely in numpy
        id_len = np.zeros(512, dtype=np.int64)
        id_len[:nsym] = table._lens[:nsym]
        id_len[256:] = 1
        id_key = np.zeros(512, dtype=U64)
        id_key[:nsym] = table._keys[:nsym]
        id_key[256:] = np.arange(256, dtype=U64) << U64(56)

        ids, cnt = np.unique(sym_id, return_counts=True)
        keys = [id_key[ids]]
        lens = [id_len[ids]]
        cnts = [cnt]
        if len(sym_id) > 1:
            a, b = sym_id[:-1], sym_id[1:]
            ok = id_len[a] + id_len[b] <= MAX_LEN
            pk = a[ok] * 512 + b[ok]
            pids, pcnt = np.unique(pk, return_counts=True)
            pa, pb = pids // 512, pids % 512
            la = id_len[pa]
            keys.append(id_key[pa] | (id_key[pb] >> (la.astype(U64) * U64(8))))
            lens.append(la + id_len[pb])
            cnts.append(pcnt)
        k = np.concatenate(keys)
        ln = np.concatenate(lens)
        c = np.concatenate(cnts)
        # merge candidates with identical bytes — identity is (key, len):
        # a key's trailing zero padding is ambiguous between b"x" and
        # b"x\x00", so length disambiguates
        order = np.lexsort((ln, k))
        k, ln, c = k[order], ln[order], c[order]
        first = np.empty(len(k), dtype=bool)
        if len(k):
            first[0] = True
            np.logical_or(k[1:] != k[:-1], ln[1:] != ln[:-1], out=first[1:])
        starts = np.nonzero(first)[0]
        mk, ml = k[starts], ln[starts]
        mc_ = np.add.reduceat(c, starts) if len(starts) else c
        # rank by (-gain, bytes): lexicographic byte order of <=8-byte
        # strings equals numeric order of the left-aligned key, with
        # length breaking the prefix/padding tie (shorter first)
        top = np.lexsort((ml, mk, -(mc_ * ml)))[:MAX_SYMBOLS]
        table = SymbolTable([int(mk[i]).to_bytes(MAX_LEN, "big")[: ml[i]]
                             for i in top.tolist()])
    return table


fsst_train = train  # public alias (table reuse across probe + full encode)


def fsst_compress_with(data: np.ndarray, table: SymbolTable) -> bytes:
    """Compress with an already-trained table (identical bytes to
    `fsst_compress` when the table came from `train` on the same data —
    the table is self-describing, so callers may reuse one table for a
    cheap probe estimate AND the full encode without retraining)."""
    if len(data) >= _FRONTIER_MIN:
        codes = _parse_frontier(data, table)
    else:
        codes = _parse(data, table)
    out = bytearray()
    out += table.to_bytes()
    write_varint(out, len(codes))
    out += codes.tobytes()
    return bytes(out)


def fsst_compress(blob: bytes, iterations: int = 4) -> bytes:
    data = np.frombuffer(blob, dtype=np.uint8)
    return fsst_compress_with(data, train(data, iterations))


def fsst_decompress(buf) -> bytes:
    buf = memoryview(buf)
    table, pos = SymbolTable.from_buffer(buf, 0)
    n_codes, pos = read_varint(buf, pos)
    codes = np.frombuffer(buf, dtype=np.uint8, count=n_codes, offset=pos)
    nsym = len(table.symbols)
    # (nsym+1, 8) byte matrix; row nsym reserved for escaped literals
    mat = np.zeros((nsym + 1, MAX_LEN), dtype=np.uint8)
    lens = np.zeros(nsym + 1, dtype=np.int64)
    for c, s in enumerate(table.symbols):
        mat[c, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        lens[c] = len(s)
    lens[nsym] = 1

    # Escape detection must respect parity: a literal byte 0xFF following
    # an escape is NOT itself an escape.  Within each maximal run of 0xFF
    # codes, escapes sit at even offsets (run start is never a literal
    # slot: the preceding escape, if any, would be part of the run).
    is255 = codes == ESCAPE
    nc = len(codes)
    idx = np.arange(nc, dtype=np.int64)
    run_start = is255 & np.concatenate(([True], ~is255[:-1]))
    start_pos = np.maximum.accumulate(np.where(run_start, idx, -1))
    esc = is255 & ((idx - start_pos) % 2 == 0)
    lit_pos = np.nonzero(esc)[0] + 1
    if len(lit_pos) and lit_pos[-1] >= nc:
        raise ValueError("truncated FSST stream: escape at end of codes")
    keep = np.ones(nc, dtype=bool)
    keep[lit_pos] = False
    eff_codes = np.where(esc, nsym, codes)[keep].astype(np.int64)
    literals = codes[lit_pos]
    mat[nsym, 0] = 0  # placeholder; literals filled after expansion

    out_lens = lens[eff_codes]
    total = int(out_lens.sum())
    # expand: for each effective code, take lens[c] bytes of mat[c]
    starts = np.zeros(len(eff_codes), dtype=np.int64)
    np.cumsum(out_lens[:-1], out=starts[1:])
    pos_in = np.arange(total, dtype=np.int64) - np.repeat(starts, out_lens)
    out = mat[np.repeat(eff_codes, out_lens), pos_in]
    # escaped literal positions are exactly the rows where eff_codes==nsym
    lit_rows = np.nonzero(eff_codes == nsym)[0]
    out[starts[lit_rows]] = literals
    return out.tobytes()
