"""Scalar ORC RLEv2 port: the differential oracle for
`orc_rust_spark.kernels.rle_v2`.  tests/test_rle_batch_parity.py holds
the batch codec byte-/value-identical to it; the reference's golden
vectors pin the batch codec (tests/test_kernels_rle.py) and the helpers
here (tests/test_kernels_util.py).

Encode reproduces the run-detection state machine of
`src/encoding/integer/rle_v2/mod.rs:255-531` — Empty/One/FixedRun/
VariableRun states, <=512-value runs, and the variable-run decision tree
(short-repeat / direct / delta / patched-base selection) — but is driven
run-at-a-time over numpy run-length data instead of value-at-a-time, with
identical emitted bytes.  Sub-encoding byte layouts follow
`short_repeat.rs:29-81`, `direct.rs:39-95`, `delta.rs:44-182`,
`patched_base.rs:38-276`.

All integer types are handled in the int64/uint64 domain; `width_bits`
(16/32/64) only affects the max-min overflow check, mirroring the
reference's N-typed `max.checked_sub(&min)` (`mod.rs:450`).
"""

from __future__ import annotations

import numpy as np

from orc_rust_spark.kernels.rle_v2 import (
    BASE_VALUE_LIMIT,
    MAX_RUN_LENGTH,
    SHORT_REPEAT_MAX_LENGTH,
    SHORT_REPEAT_MIN_LENGTH,
    _HDR_DELTA,
    _HDR_DIRECT,
    _HDR_PATCHED_BASE,
    _HDR_SHORT_REPEAT,
)
from orc_rust_spark.kernels.util import (
    _ENCODE_BIT_WIDTH_LUT,
    I64,
    I64_MAX,
    I64_MIN,
    U64,
    bits_used,
    bits_used_scalar,
    get_closest_aligned_bit_width,
    get_closest_fixed_bits,
    encode_bit_width,
    read_varint_zigzagged,
    rle_v2_decode_bit_width,
    rle_v2_encode_bit_width,
    write_varint_zigzagged,
    zigzag_decode,
    zigzag_encode,
    zigzag_encode_scalar,
)


# ---------------------------------------------------------------------------
# Signed MSB encoding (patched-base base value) — `util.rs:559-581`
# ---------------------------------------------------------------------------

def signed_msb_encode_scalar(value: int, byte_size: int) -> int:
    """abs(value) with sign stored in the MSB of a byte_size-byte big-endian int."""
    sign_bit = 1 if value < 0 else 0
    return (sign_bit << (byte_size * 8 - 1)) | abs(value)


def signed_msb_decode_scalar(encoded: int, byte_size: int) -> int:
    msb_mask = 1 << (byte_size * 8 - 1)
    mag = encoded & ~msb_mask
    return -mag if encoded & msb_mask else mag


# ---------------------------------------------------------------------------
# Percentile bit width — `util.rs:584-610`
# ---------------------------------------------------------------------------

def calculate_percentile_bits(values: np.ndarray, percentile: float) -> int:
    """Nth-percentile decoded bit width over the 32-bucket histogram of
    encoded bit widths.  Mirrors the reference's f32 truncation when
    computing how many values sit above the percentile.
    """
    bl = bits_used(np.asarray(values, dtype=U64))
    codes = _ENCODE_BIT_WIDTH_LUT[bl]
    histogram = np.bincount(codes, minlength=32)
    count = np.float32(len(bl))
    per_len = int(np.float32(np.float32(1.0) - np.float32(percentile)) * count)
    for i in range(31, -1, -1):
        h = int(histogram[i])
        if per_len >= h:
            per_len -= h
        else:
            return rle_v2_decode_bit_width(i)
    raise AssertionError("percentile must be in (0.0, 1.0]")


# ---------------------------------------------------------------------------
# Sub-encoding writers
# ---------------------------------------------------------------------------

def _write_short_repeat(out: bytearray, value: int, count: int, signed: bool) -> None:
    """`short_repeat.rs:65-81`: header eeww_wccc + 1-8 big-endian bytes."""
    zz = zigzag_encode_scalar(value) if signed else value & 0xFFFFFFFFFFFFFFFF
    byte_size = max((bits_used_scalar(zz) + 7) // 8, 1)
    header = _HDR_SHORT_REPEAT | ((byte_size - 1) << 3) | (count - SHORT_REPEAT_MIN_LENGTH)
    out.append(header)
    out.extend(zz.to_bytes(byte_size, "big"))


def _write_direct(out: bytearray, zz_values: np.ndarray, max_val: int | None) -> None:
    """`direct.rs:69-95`: 2-byte header, aligned bit-packed zigzagged values."""
    if max_val is None:
        max_val = int(zz_values.max())
    bit_width = get_closest_aligned_bit_width(bits_used_scalar(max_val))
    encoded_bit_width = rle_v2_encode_bit_width(bit_width)
    encoded_length = len(zz_values) - 1
    out.append(_HDR_DIRECT | (encoded_bit_width << 1) | (encoded_length >> 8))
    out.append(encoded_length & 0xFF)
    out.extend(_pack_msb(zz_values, bit_width))


def _delta_header(out: bytearray, delta_width: int, run_length: int) -> None:
    """`delta.rs:161-182`."""
    rl = run_length - 1
    dw = 0 if delta_width == 0 else rle_v2_encode_bit_width(delta_width)
    out.append(_HDR_DELTA | (dw << 1) | (rl >> 8))
    out.append(rl & 0xFF)


def _write_fixed_delta(
    out: bytearray, base_value: int, fixed_delta: int, subsequent_deltas_len: int, signed: bool
) -> None:
    """`delta.rs:146-159`."""
    _delta_header(out, 0, subsequent_deltas_len + 2)
    write_varint_zigzagged(out, base_value, signed)
    write_varint_zigzagged(out, fixed_delta, True)


def _write_varying_delta(
    out: bytearray,
    base_value: int,
    first_delta: int,
    max_delta: int,
    subsequent_deltas: np.ndarray,
    signed: bool,
) -> None:
    """`delta.rs:118-144`."""
    bit_width = get_closest_aligned_bit_width(bits_used_scalar(max_delta))
    if bit_width == 1:
        # width 1 would decode as fixed-delta marker (`delta.rs:129-133`)
        bit_width = 2
    _delta_header(out, bit_width, len(subsequent_deltas) + 2)
    write_varint_zigzagged(out, base_value, signed)
    write_varint_zigzagged(out, first_delta, True)
    out.extend(_pack_msb(subsequent_deltas.astype(U64), bit_width))


def _derive_patches(
    brl: np.ndarray, patch_bits_width: int, max_base_value_bit_width: int
) -> tuple[list[int], int]:
    """`patched_base.rs:150-217`: extract (gap, patch) list incl. 255-gap
    jump patches and the 511-gap double-jump, stripping patch bits from brl
    in place."""
    max_base_value_mask = (1 << max_base_value_bit_width) - 1
    jump_patch = 255 << patch_bits_width

    patches: list[int] = []
    last_patch_index = 0
    max_gap = 0
    idxs = np.nonzero(brl > max_base_value_mask)[0]
    for idx in idxs:
        idx = int(idx)
        lit = int(brl[idx])
        patch_bits = (lit & 0xFFFFFFFFFFFFFFFF) >> max_base_value_bit_width
        gap = idx - last_patch_index
        if gap == 511:
            max_gap = 255
            patches.append(jump_patch)
            patches.append(jump_patch)
            gap = 1
        elif gap > 255:
            max_gap = 255
            patches.append(jump_patch)
            gap = gap - 255
        else:
            max_gap = max(max_gap, gap)
        patches.append(patch_bits | (gap << patch_bits_width))
        last_patch_index = idx
        brl[idx] = lit & max_base_value_mask

    patch_gap_width = 1 if max_gap == 0 else bits_used_scalar(max_gap)
    return patches, patch_gap_width


def _write_patched_base(
    out: bytearray,
    brl: np.ndarray,
    base: int,
    brl_100p_bit_width: int,
    brl_95p_bit_width: int,
) -> None:
    """`patched_base.rs:219-276`."""
    patch_bits_width = get_closest_fixed_bits(brl_100p_bit_width - brl_95p_bit_width)
    if patch_bits_width == 64:
        patch_bits_width, brl_95p_bit_width = 56, 8

    patches, patch_gap_width = _derive_patches(brl, patch_bits_width, brl_95p_bit_width)

    encoded_bit_width = encode_bit_width(brl_95p_bit_width)
    run_length = len(brl) - 1

    base_bit_width = get_closest_fixed_bits(bits_used_scalar(abs(base)) + 1)
    base_byte_width = max((base_bit_width + 7) // 8, 1)
    msb_encoded_min = signed_msb_encode_scalar(base, base_byte_width)

    out.append(_HDR_PATCHED_BASE | (encoded_bit_width << 1) | (run_length >> 8))
    out.append(run_length & 0xFF)
    out.append(((base_byte_width - 1) << 5) | encode_bit_width(patch_bits_width))
    out.append(((patch_gap_width - 1) << 5) | len(patches))
    out.extend(msb_encoded_min.to_bytes(base_byte_width, "big"))

    out.extend(_pack_msb(brl.astype(U64), get_closest_fixed_bits(brl_95p_bit_width)))
    out.extend(
        _pack_msb(
            np.array(patches, dtype=U64),
            get_closest_fixed_bits(patch_gap_width + patch_bits_width),
        )
    )


# ---------------------------------------------------------------------------
# Variable-run decision tree — `mod.rs:422-531`
# ---------------------------------------------------------------------------

def _saturating_diffs(lits: np.ndarray) -> np.ndarray:
    """i64 adjacent differences with saturation (`mod.rs:198,216`)."""
    d = lits[1:] - lits[:-1]  # wraps on int64 overflow
    l1, l0 = lits[1:], lits[:-1]
    pos_ovf = (l1 >= 0) & (l0 < 0) & (d < 0)
    neg_ovf = (l1 < 0) & (l0 >= 0) & (d > 0)
    if pos_ovf.any() or neg_ovf.any():
        d = d.copy()
        d[pos_ovf] = I64_MAX
        d[neg_ovf] = I64_MIN
    return d


def _zz(lits: np.ndarray, signed: bool) -> np.ndarray:
    return zigzag_encode(lits) if signed else lits.astype(U64)


def _determine_variable(
    out: bytearray, lits: np.ndarray, signed: bool, width_bits: int
) -> None:
    k = len(lits)
    if k <= SHORT_REPEAT_MIN_LENGTH:
        _write_direct(out, _zz(lits, signed), None)
        return

    d = _saturating_diffs(lits)
    first_delta = int(d[0])
    vmin = int(lits.min())
    vmax = int(lits.max())
    rest = d[1:]
    abs_rest = np.where(rest == I64_MIN, I64_MAX, np.abs(rest))
    max_delta = int(abs_rest.max()) if len(rest) else 0
    is_increasing = first_delta > 0 and bool((rest >= 0).all())
    is_decreasing = first_delta < 0 and bool((rest <= 0).all())
    is_monotonic = is_increasing or is_decreasing
    is_fixed_delta = bool((d == first_delta).all())

    # delta overflow in the value type N -> direct (`mod.rs:450-456`)
    n_max = (1 << (width_bits - 1)) - 1
    if vmax - vmin > n_max:
        _write_direct(out, _zz(lits, signed), None)
        return

    if is_fixed_delta:
        _write_fixed_delta(out, int(lits[0]), first_delta, k - 2, signed)
        return

    if first_delta != 0 and is_monotonic:
        _write_varying_delta(out, int(lits[0]), first_delta, max_delta, abs_rest, signed)
        return

    if abs(vmin) >= BASE_VALUE_LIMIT and vmin != I64_MIN:
        _write_direct(out, _zz(lits, signed), None)
        return

    zz_lits = _zz(lits, signed)
    w90 = calculate_percentile_bits(zz_lits, 0.90)
    w100 = calculate_percentile_bits(zz_lits, 1.00)
    if w100 - w90 <= 1:
        _write_direct(out, zz_lits, None)
        return

    brl = lits - vmin  # fits i64: vmax - vmin <= I64_MAX verified above
    max_data_value = int(brl.max())
    brl_100p = get_closest_aligned_bit_width(bits_used_scalar(max_data_value))
    brl_95p = calculate_percentile_bits(brl.astype(U64), 0.95)
    if brl_100p != brl_95p:
        _write_patched_base(out, brl, vmin, brl_100p, brl_95p)
    else:
        _write_direct(out, zz_lits, None)


# ---------------------------------------------------------------------------
# Encoder — run-driven simulation of `mod.rs:282-394`
# ---------------------------------------------------------------------------

def rle_v2_encode_ref(values: np.ndarray, signed: bool = True, width_bits: int = 64) -> bytes:
    """Run-at-a-time reference encoder."""
    v = np.ascontiguousarray(values, dtype=I64)
    n = len(v)
    out = bytearray()
    if n == 0:
        return bytes(out)

    # maximal runs of identical values
    change = np.nonzero(v[1:] != v[:-1])[0] + 1
    starts = np.concatenate((np.zeros(1, dtype=np.int64), change))
    lens = np.diff(np.concatenate((starts, np.array([n], dtype=np.int64))))
    long_runs = np.nonzero(lens >= 3)[0]

    # state: either a pending literal slice [lit_a, lit_b) (VariableRun /
    # One / FixedRun{count<=2}, which are byte-equivalent on every exit
    # path), or a pending fixed run (value index, count in [3, 511]).
    lit_a = 0
    lit_b = 0
    fixed_idx = -1  # start index of pending fixed run, -1 if none
    fixed_count = 0

    def flush_fixed_on_break() -> None:
        """FixedRun broken by a different value (`mod.rs:312-338`, count>=3)."""
        nonlocal fixed_idx, fixed_count
        val = int(v[fixed_idx])
        if fixed_count <= SHORT_REPEAT_MAX_LENGTH:
            _write_short_repeat(out, val, fixed_count, signed)
        else:
            _write_fixed_delta(out, val, 0, fixed_count - 2, signed)
        fixed_idx = -1
        fixed_count = 0

    def bulk_literals(end: int) -> None:
        """Append values[lit_b:end] to the literal buffer, flushing every
        512 accumulated values (`mod.rs:357-364`)."""
        nonlocal lit_a, lit_b
        lit_b = end
        while lit_b - lit_a >= MAX_RUN_LENGTH:
            _determine_variable(
                out, v[lit_a : lit_a + MAX_RUN_LENGTH], signed, width_bits
            )
            lit_a += MAX_RUN_LENGTH

    def feed_long_run(s: int, length: int) -> None:
        """A maximal run of >=3 identical values starting at s."""
        nonlocal lit_a, lit_b, fixed_idx, fixed_count
        consumed = 0
        m = lit_b - lit_a
        if m > 0:
            # first two run values are appended to the literal buffer; the
            # third triggers the fixed-run switch (`mod.rs:342-364`), unless
            # the 512 cap flushes mid-append.
            if m == MAX_RUN_LENGTH - 1:
                _determine_variable(out, v[lit_a : s + 1], signed, width_bits)
                consumed = 1
            elif m == MAX_RUN_LENGTH - 2:
                _determine_variable(out, v[lit_a : s + 2], signed, width_bits)
                consumed = 2
            else:
                _determine_variable(out, v[lit_a:s], signed, width_bits)
                # trigger consumed 3 values into a FixedRun{count: 3}
                consumed = 0  # counted via the chunk arithmetic below
            lit_a = lit_b = s + consumed
        rem = length - consumed
        base = int(v[s])
        chunks = rem // MAX_RUN_LENGTH
        for _ in range(chunks):
            _write_fixed_delta(out, base, 0, MAX_RUN_LENGTH - 2, signed)
        r = rem % MAX_RUN_LENGTH
        end = s + length
        if r == 0:
            lit_a = lit_b = end
        elif r <= 2:
            lit_a, lit_b = end - r, end
        else:
            lit_a = lit_b = end
            fixed_idx, fixed_count = end - r, r

    for ri in long_runs:
        s = int(starts[ri])
        length = int(lens[ri])
        if fixed_idx >= 0:
            # Pending fixed run broken by the next value: emits SR/FD and
            # leaves state One(next) (`mod.rs:327-337`), which is
            # byte-equivalent to Empty followed by that value.
            flush_fixed_on_break()
        bulk_literals(s)
        feed_long_run(s, length)

    # trailing literal stretch after the last long run
    if fixed_idx >= 0 and lit_b < n:
        flush_fixed_on_break()
    bulk_literals(n)

    # final flush (`mod.rs:370-394`)
    if fixed_idx >= 0:
        val = int(v[fixed_idx])
        if fixed_count <= SHORT_REPEAT_MAX_LENGTH:
            _write_short_repeat(out, val, fixed_count, signed)
        else:
            _write_fixed_delta(out, val, 0, fixed_count - 2, signed)
    elif lit_b > lit_a:
        _determine_variable(out, v[lit_a:lit_b], signed, width_bits)

    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder — `mod.rs:103-176` block loop + per-sub-encoding readers
# ---------------------------------------------------------------------------

def _pack_msb(values, width: int) -> bytes:
    """MSB-first `width`-bit values, zero-padded to a byte, built bit by
    bit with `np.unpackbits`: independent of `kernels.bitpack`, whose
    pack is the code under test."""
    be = np.asarray(values).astype(">u8").view(np.uint8)
    bits = np.unpackbits(be).reshape(-1, 64)[:, 64 - width:]
    return np.packbits(bits.ravel()).tobytes()


def _unpack_msb(buf, pos: int, n: int, width: int) -> tuple[np.ndarray, int]:
    """n MSB-first `width`-bit values from byte pos, read bit by bit
    with `np.unpackbits`: independent of `kernels.bitpack`, whose unpack
    is the code under test.  Returns (uint64 values, new pos)."""
    nbytes = (n * width + 7) // 8
    bits = np.unpackbits(np.frombuffer(buf, np.uint8, nbytes, pos))
    rows = np.zeros((n, 64), dtype=np.uint8)
    rows[:, 64 - width:] = bits[: n * width].reshape(n, width)
    return np.packbits(rows, axis=1).view(">u8").ravel().astype(U64), \
        pos + nbytes


def _extract_run_length(first_byte: int, second_byte: int) -> int:
    return (((first_byte & 0x01) << 8) | second_byte) + 1


def rle_v2_decode_ref(buf, n: int, signed: bool = True,
                      blocks: list | None = None) -> np.ndarray:
    """Decode n values from an RLEv2 byte stream; returns int64 array.
    `blocks`, if given, collects each block's (header kind, decoded
    width code, header byte offset) — what a test needs to show the
    stream it built."""
    if n == 0:
        return np.empty(0, dtype=I64)
    buf = memoryview(buf)
    chunks: list[np.ndarray] = []
    got = 0
    pos = 0
    while got < n:
        header = buf[pos]
        pos += 1
        kind = header & 0xC0
        if blocks is not None:
            blocks.append((kind, rle_v2_decode_bit_width((header >> 1) & 0x1F),
                           pos - 1))
        if kind == _HDR_SHORT_REPEAT:
            byte_width = ((header >> 3) & 0x07) + 1
            run_length = (header & 0x07) + SHORT_REPEAT_MIN_LENGTH
            val = int.from_bytes(buf[pos : pos + byte_width], "big")
            pos += byte_width
            if signed:
                val = (val >> 1) ^ -(val & 1)
            else:
                if val >= 1 << 63:
                    val -= 1 << 64
            chunks.append(np.full(run_length, val, dtype=I64))
            got += run_length
        elif kind == _HDR_DIRECT:
            bit_width = rle_v2_decode_bit_width((header >> 1) & 0x1F)
            length = _extract_run_length(header, buf[pos])
            pos += 1
            vals, pos = _unpack_msb(buf, pos, length, bit_width)
            if signed:
                chunks.append(zigzag_decode(vals))
            else:
                chunks.append(vals.view(I64).copy())
            got += length
        elif kind == _HDR_DELTA:
            vals, pos = _read_delta(buf, pos, header, signed)
            chunks.append(vals)
            got += len(vals)
        else:  # patched base
            vals, pos = _read_patched_base(buf, pos, header)
            chunks.append(vals)
            got += len(vals)
    res = np.concatenate(chunks) if len(chunks) > 1 else chunks[0]
    if got != n:
        raise ValueError(f"decoded {got} values, expected {n}")
    return res


def _read_delta(buf, pos: int, header: int, signed: bool) -> tuple[np.ndarray, int]:
    """`delta.rs:44-116`."""
    encoded_width = (header >> 1) & 0x1F
    delta_bit_width = 0 if encoded_width == 0 else rle_v2_decode_bit_width(encoded_width)
    length = _extract_run_length(header, buf[pos])
    pos += 1
    base_value, pos = read_varint_zigzagged(buf, pos, signed)
    delta_base, pos = read_varint_zigzagged(buf, pos, True)
    sign = 1 if delta_base > 0 else -1
    mag = abs(delta_base)
    if delta_bit_width == 0:
        idx = np.arange(length, dtype=I64)
        vals = np.int64(base_value) + idx * np.int64(sign * mag)
        return vals, pos
    deltas, pos = _unpack_msb(buf, pos, length - 2, delta_bit_width)
    deltas = deltas.view(I64)
    vals = np.empty(length, dtype=I64)
    vals[0] = base_value
    vals[1] = base_value + sign * mag
    if length > 2:
        vals[2:] = vals[1] + np.cumsum(deltas * np.int64(sign))
    return vals, pos


def _read_patched_base(buf, pos: int, header: int) -> tuple[np.ndarray, int]:
    """`patched_base.rs:38-148`."""
    value_bit_width = rle_v2_decode_bit_width((header >> 1) & 0x1F)
    length = _extract_run_length(header, buf[pos])
    pos += 1
    third = buf[pos]
    fourth = buf[pos + 1]
    pos += 2
    base_byte_width = ((third >> 5) & 0x07) + 1
    patch_bit_width = rle_v2_decode_bit_width(third & 0x1F)
    patch_gap_bit_width = ((fourth >> 5) & 0x07) + 1
    patch_list_length = fourth & 0x1F

    base_raw = int.from_bytes(buf[pos : pos + base_byte_width], "big")
    pos += base_byte_width
    base = signed_msb_decode_scalar(base_raw, base_byte_width)

    data_u, pos = _unpack_msb(buf, pos, length, value_bit_width)

    patch_width = get_closest_fixed_bits(patch_bit_width + patch_gap_bit_width)
    patches_u, pos = _unpack_msb(buf, pos, patch_list_length, patch_width)
    patches = [int(p) for p in patches_u]

    # walk the patch list once, resolving 255-gap jump patches to the
    # absolute positions and high-bit values (`patched_base.rs:92-139`)
    mask = (1 << patch_bit_width) - 1
    positions: list[int] = []
    patch_values: list[int] = []
    patch_index = 0
    prev_idx = 0
    first = True
    while patch_index < len(patches):
        current_gap = patches[patch_index] >> patch_bit_width
        current_patch = patches[patch_index] & mask
        actual_gap = 0
        while current_gap == 255 and current_patch == 0:
            actual_gap += 255
            patch_index += 1
            current_gap = patches[patch_index] >> patch_bit_width
            current_patch = patches[patch_index] & mask
        actual_gap += current_gap
        if not first:
            actual_gap += prev_idx
        positions.append(actual_gap)
        patch_values.append(current_patch)
        prev_idx = actual_gap
        first = False
        patch_index += 1

    if positions:
        pos_arr = np.array(positions, dtype=np.int64)
        pv = np.array(
            [(p << value_bit_width) & 0xFFFFFFFFFFFFFFFF for p in patch_values],
            dtype=U64,
        )
        data_u[pos_arr] |= pv
    base_u = U64(base & 0xFFFFFFFFFFFFFFFF)
    return (data_u + base_u).view(I64), pos
