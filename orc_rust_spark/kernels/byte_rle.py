"""ORC Byte RLE codec, byte-compatible with the reference
`src/encoding/byte.rs:38-247`.

Sub-encodings: Run (3..=130 repeats, header 0..=127 then value byte) and
Literals (1..=128 values, header 0x80..=0xFF i.e. -len as i8, then raw
bytes).  The encoder reproduces the reference's literal/tail-run state
machine (adapted from Java RunLengthByteWriter) driven run-at-a-time.
"""

from __future__ import annotations

import numpy as np

MAX_LITERAL_LENGTH = 128
MIN_REPEAT_LENGTH = 3
MAX_REPEAT_LENGTH = 130


def _write_run(out: bytearray, value: int, run_length: int) -> None:
    out.append(run_length - MIN_REPEAT_LENGTH)
    out.append(value)


def _write_literals(out: bytearray, lits: np.ndarray) -> None:
    out.append((256 - len(lits)) & 0xFF)
    out.extend(lits.tobytes())


def byte_rle_encode(values: np.ndarray) -> bytes:
    """Encode a uint8/int8 array. Mirrors `byte.rs:65-146`."""
    v = np.ascontiguousarray(values).view(np.uint8)
    n = len(v)
    out = bytearray()
    if n == 0:
        return bytes(out)

    change = np.nonzero(v[1:] != v[:-1])[0] + 1
    starts = np.concatenate((np.zeros(1, dtype=np.int64), change))
    lens = np.diff(np.concatenate((starts, np.array([n], dtype=np.int64))))
    long_runs = np.nonzero(lens >= MIN_REPEAT_LENGTH)[0]

    lit_a = 0
    lit_b = 0
    run_idx = -1  # pending Run-mode start index, count = run_count
    run_count = 0

    def bulk_literals(end: int) -> None:
        nonlocal lit_a, lit_b
        lit_b = end
        while lit_b - lit_a >= MAX_LITERAL_LENGTH:
            _write_literals(out, v[lit_a : lit_a + MAX_LITERAL_LENGTH])
            lit_a += MAX_LITERAL_LENGTH

    def feed_long_run(s: int, length: int) -> None:
        nonlocal lit_a, lit_b, run_idx, run_count
        consumed = 0
        m = lit_b - lit_a
        if m > 0:
            # first two values append to literals; third triggers run switch
            # (`byte.rs:100-115`), unless the 128 cap flushes mid-append
            if m == MAX_LITERAL_LENGTH - 1:
                _write_literals(out, v[lit_a : s + 1])
                consumed = 1
            elif m == MAX_LITERAL_LENGTH - 2:
                _write_literals(out, v[lit_a : s + 2])
                consumed = 2
            else:
                _write_literals(out, v[lit_a:s])
            lit_a = lit_b = s + consumed
        rem = length - consumed
        val = int(v[s])
        chunks = rem // MAX_REPEAT_LENGTH
        for _ in range(chunks):
            _write_run(out, val, MAX_REPEAT_LENGTH)
        r = rem % MAX_REPEAT_LENGTH
        end = s + length
        if r == 0:
            lit_a = lit_b = end
        elif r < MIN_REPEAT_LENGTH:
            lit_a, lit_b = end - r, end
        else:
            lit_a = lit_b = end
            run_idx, run_count = end - r, r

    for ri in long_runs:
        s = int(starts[ri])
        length = int(lens[ri])
        if run_idx >= 0:
            # pending run broken by next value (`byte.rs:82-89`); state
            # Literal([w]) is equivalent to Empty followed by w
            _write_run(out, int(v[run_idx]), run_count)
            run_idx, run_count = -1, 0
        bulk_literals(s)
        feed_long_run(s, length)

    if run_idx >= 0 and lit_b < n:
        _write_run(out, int(v[run_idx]), run_count)
        run_idx, run_count = -1, 0
    bulk_literals(n)

    # final flush (`byte.rs:136-146`)
    if run_idx >= 0:
        _write_run(out, int(v[run_idx]), run_count)
    elif lit_b > lit_a:
        _write_literals(out, v[lit_a:lit_b])

    return bytes(out)


def byte_rle_decode(buf, n: int, exact: bool = True) -> np.ndarray:
    """Decode n bytes; returns uint8 array (`byte.rs:228-247`).

    With ``exact=False`` the final run may overshoot n (decoding a
    row-group slice whose byte budget ends mid-run) — the result is
    truncated instead of raising."""
    buf = memoryview(buf)
    # max overshoot is one run (<=130 bytes)
    out = np.empty(n + 130, dtype=np.uint8)
    got = 0
    pos = 0
    while got < n:
        header = buf[pos]
        pos += 1
        if header < 0x80:
            length = header + MIN_REPEAT_LENGTH
            out[got : got + length] = buf[pos]
            pos += 1
        else:
            length = 0x100 - header
            out[got : got + length] = np.frombuffer(buf, np.uint8, length, pos)
            pos += length
        got += length
    if exact and got != n:
        raise ValueError(f"byte RLE decoded {got}, expected {n}")
    return out[:n]
