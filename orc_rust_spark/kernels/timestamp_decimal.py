"""Codecs for ORC timestamps and decimals (SURVEY C13/C14).

The reference writer emits neither (its encoder set is
`src/writer/stripe.rs:173-189`); the encoders here serve our ORC
writer, while our own stripe format stores timestamps as int64
micros through RLEv2.

Timestamp (`src/encoding/timestamp.rs:30-197`):
  DATA      = seconds since 2015-01-01 epoch, RLEv2 signed
  SECONDARY = nanoseconds with the 3-bit trailing-zero trick:
              if (v & 7) != 0 the nanos are (v >> 3) * 10^((v&7)+1),
              else v >> 3; plus the ORC-763 negative-seconds adjustment
              (nanos > 0 with negative seconds borrows one second).

Decimal (`src/encoding/decimal.rs:28-52`, `src/array_decoder/decimal.rs`):
  DATA      = unbounded zigzag varints (mantissa, here bounded to i64/
              Decimal128 within python-int range)
  SECONDARY = per-value scale, RLEv2 signed; values are rescaled to the
              column's fixed scale by *10^d / 10^-d.
"""

from __future__ import annotations

import numpy as np

from .rle_v1 import rle_v1_decode as _rle_v1_decode
from .rle_v2 import rle_v2_decode, rle_v2_encode
from .util import I64, read_varint_zigzagged

# 2015-01-01T00:00:00Z in seconds since the unix epoch
# (`src/array_decoder/timestamp.rs:49-51`)
ORC_TS_BASE_SECONDS = 1_420_070_400


def _writer_tz_base_seconds(tz_name: str) -> int:
    """Seconds since unix epoch of 2015-01-01 00:00:00 in the writer's
    timezone (`src/array_decoder/timestamp.rs:133-145`)."""
    from datetime import datetime
    from zoneinfo import ZoneInfo
    return int(datetime(2015, 1, 1, tzinfo=ZoneInfo(tz_name)).timestamp())


def timestamp_decode_parts(data_stream, secondary_stream, n: int,
                           base_seconds: int = ORC_TS_BASE_SECONDS,
                           rle_version: int = 2,
                           skip_data: int = 0,
                           skip_secondary: int = 0,
                           exact: bool = True
                           ) -> tuple[np.ndarray, np.ndarray]:
    """Decode the two-stream timestamp encoding to the exact
    (seconds since unix epoch, sub-second nanoseconds) pair — the full
    ORC timestamp domain, which an int64-nanoseconds intermediate
    cannot hold for instants beyond ±292 years (the reason the
    reference offers the Decimal128(38,9) representation,
    `src/encoding/timestamp.rs:76-78`).  Unit conversion/overflow
    policy is the CALLER's (`src/encoding/timestamp.rs:153-192`).
    `rle_version=1` decodes the seconds/nanos streams with RLEv1 (ORC
    v0.11 files).  The skips implement the row-index mid-run seek
    (decode-and-discard of the leading values of the run each stream's
    position points into)."""
    _dec = rle_v2_decode if rle_version == 2 else _rle_v1_decode
    seconds = _dec(data_stream, n + skip_data, signed=True,
                   exact=exact)[skip_data:] + np.int64(base_seconds)
    raw = _dec(secondary_stream, n + skip_secondary, signed=False,
               exact=exact)[skip_secondary:]
    zeros = (raw & np.int64(7)).astype(np.int64)
    base = (raw >> np.int64(3)).astype(np.int64)
    scale = np.power(10, np.where(zeros != 0, zeros + 1, 0)).astype(np.int64)
    nanos = base * scale
    # ORC-763: negative seconds with nanos > 999_999 borrow one second
    # (`src/encoding/timestamp.rs:137-141`)
    adjust = (seconds < 0) & (nanos > 999_999)
    seconds = np.where(adjust, seconds - 1, seconds)
    return seconds, nanos


def timestamp_decode(data_stream, secondary_stream, n: int,
                     base_seconds: int = ORC_TS_BASE_SECONDS,
                     rle_version: int = 2,
                     skip_data: int = 0,
                     skip_secondary: int = 0,
                     exact: bool = True) -> np.ndarray:
    """Decode the two-stream timestamp encoding to int64 nanoseconds
    since the unix epoch (vectorized); see `timestamp_decode_parts`."""
    seconds, nanos = timestamp_decode_parts(
        data_stream, secondary_stream, n, base_seconds, rle_version,
        skip_data, skip_secondary, exact)
    return seconds * np.int64(1_000_000_000) + nanos


def timestamp_encode_us(micros_since_epoch: np.ndarray,
                        base_seconds: int = ORC_TS_BASE_SECONDS
                        ) -> tuple[bytes, bytes]:
    """Encode µs-precision instants WITHOUT the ns-int64 intermediate:
    `us * 1000` wraps int64 for years beyond ~2262 even though the
    two-stream format (separate seconds + sub-second nanos) represents
    them fine — seconds/nanos are derived from µs directly."""
    us = np.ascontiguousarray(micros_since_epoch, dtype=I64)
    seconds = us // np.int64(1_000_000)
    nanos = (us - seconds * np.int64(1_000_000)) * np.int64(1000)
    return _timestamp_encode_parts(seconds, nanos, base_seconds)


def timestamp_decode_us(data_stream, secondary_stream, n: int,
                        base_seconds: int = ORC_TS_BASE_SECONDS) -> np.ndarray:
    """Decode to int64 µs since the unix epoch without the ns-int64
    intermediate (exact inverse of `timestamp_encode_us`)."""
    seconds = rle_v2_decode(data_stream, n, signed=True) + np.int64(base_seconds)
    raw = rle_v2_decode(secondary_stream, n, signed=False)
    zeros = (raw & np.int64(7)).astype(np.int64)
    base = (raw >> np.int64(3)).astype(np.int64)
    scale = np.power(10, np.where(zeros != 0, zeros + 1, 0)).astype(np.int64)
    nanos = base * scale
    adjust = (seconds < 0) & (nanos > 999_999)
    seconds = np.where(adjust, seconds - 1, seconds)
    return seconds * np.int64(1_000_000) + nanos // np.int64(1000)


def timestamp_encode(nanos_since_epoch: np.ndarray,
                     base_seconds: int = ORC_TS_BASE_SECONDS
                     ) -> tuple[bytes, bytes]:
    """Inverse of `timestamp_decode` (the reference has no timestamp
    writer; this exists for roundtrip tests and our own sinks)."""
    ns = np.ascontiguousarray(nanos_since_epoch, dtype=I64)
    seconds = ns // np.int64(1_000_000_000)
    nanos = ns - seconds * np.int64(1_000_000_000)
    return _timestamp_encode_parts(seconds, nanos, base_seconds)


def _timestamp_encode_parts(seconds: np.ndarray, nanos: np.ndarray,
                            base_seconds: int) -> tuple[bytes, bytes]:
    seconds = np.ascontiguousarray(seconds, dtype=I64)
    nanos = np.ascontiguousarray(nanos, dtype=I64)
    # undo the ORC-763 borrow (decode subtracts one second when stored
    # seconds < 0 and nanos > 999_999)
    adjust = (seconds < 0) & (nanos > 999_999)
    seconds = np.where(adjust, seconds + 1, seconds)
    if bool(np.any((seconds == 0) & adjust)):
        # instants in (-1s, 0) with sub-millisecond nanos cannot round-trip
        # under ORC-763 semantics — same hole as Java ORC / the reference
        raise ValueError("timestamps in (-1s, 0) are not representable "
                         "in ORC's two-stream encoding (ORC-763)")
    # trailing-zero trick: count 10^k factors (k up to 7 encodable +1)
    zeros = np.zeros(len(seconds), dtype=np.int64)
    base = nanos.copy()
    for _ in range(9):
        m = (base != 0) & (base % 10 == 0)
        if not m.any():
            break
        base = np.where(m, base // 10, base)
        zeros = np.where(m, zeros + 1, zeros)
    enc_with = (base << np.int64(3)) | np.minimum(zeros - 1, 7)
    raw = np.where(zeros >= 2, enc_with, nanos << np.int64(3))
    # zeros==1 can't be encoded in the trick (field is zeros-1 >= 1)
    raw = np.where(zeros == 1, nanos << np.int64(3), raw)
    return (rle_v2_encode(seconds - np.int64(base_seconds), signed=True),
            rle_v2_encode(raw, signed=False))


def decimal_encode(mantissas, scale: int) -> tuple[bytes, bytes]:
    """Inverse of `decimal_decode` for a fixed-scale column: DATA =
    unbounded zigzag varints of the mantissas, SECONDARY = RLEv2 of the
    (constant) scale — the stream layout `src/encoding/decimal.rs:28-52`
    reads.  The reference writer emits no decimals; this exists so
    decimal columns are first-class in our stripe sink."""
    from .util import write_varint
    out = bytearray()
    for m in mantissas:
        # UNBOUNDED zigzag (2v / -2v-1): decimal mantissa varints are
        # not 64-bit-wrapped — int128 values (precision > 18) must keep
        # every bit.  Identical bytes to the 64-bit scalar for every
        # int64-range value, so precision <= 18 streams are unchanged.
        m = int(m)
        write_varint(out, 2 * m if m >= 0 else -2 * m - 1)
    sec = rle_v2_encode(np.full(len(mantissas), scale, dtype=I64), signed=True)
    return bytes(out), sec


def decimal_decode(data_stream, secondary_stream, n: int,
                   target_scale: int, rle_version: int = 2,
                   skip_secondary: int = 0, exact: bool = True) -> list[int]:
    """Decode varint mantissas + per-value scales, rescaled to
    `target_scale` (returns unscaled int mantissas; exact py-int math).
    The DATA stream seeks by byte offset (varints have no runs);
    `skip_secondary` is the scale stream's mid-run seek."""
    buf = memoryview(data_stream)
    pos = 0
    mantissas: list[int] = []
    for _ in range(n):
        v, pos = read_varint_zigzagged(buf, pos, True)
        mantissas.append(v)
    _dec = rle_v2_decode if rle_version == 2 else _rle_v1_decode
    scales = _dec(secondary_stream, n + skip_secondary, signed=True,
                  exact=exact)[skip_secondary:]
    out: list[int] = []
    for m, s in zip(mantissas, scales.tolist()):
        d = target_scale - s
        if d >= 0:
            out.append(m * 10 ** d)
        else:
            # i128-style truncation toward zero (`src/array_decoder/
            # decimal.rs` fix_i128_scale), not Python floor division:
            # -15 downscaled by 1 is -1, not -2
            q = abs(m) // 10 ** (-d)
            out.append(-q if m < 0 else q)
    return out
