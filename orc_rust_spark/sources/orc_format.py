"""Shared ORC protobuf enum constants (format/orc_proto.proto in the
reference; public spec), the row-index position layout, the protobuf
wire helpers and the one statistics path: `unit_stats` computes a
unit's `ColStats`, `column_statistics` writes them as an ORC
ColumnStatistics message and `_parse_col_stats` reads one back.  ORC
files, native row groups (OSPR) and the stripe manifest all go through
here, so the reader and the writers cannot drift (the reference's
`src/statistics.rs:22-163`)."""

from __future__ import annotations

import struct

import pyarrow as pa
import pyarrow.compute as pc

from ..kernels.util import (read_varint, write_varint, zigzag_decode_scalar,
                            zigzag_encode_scalar)
from .predicate import ColStats

# Stream.Kind
K_PRESENT, K_DATA, K_LENGTH, K_DICT_DATA, K_SECONDARY = 0, 1, 2, 3, 5
K_ROW_INDEX = 6
K_BLOOM_FILTER = 7
K_BLOOM_FILTER_UTF8 = 8

# ColumnEncoding.Kind
ENC_DIRECT, ENC_DICT, ENC_DIRECT_V2, ENC_DICT_V2 = 0, 1, 2, 3

# Type.Kind
(TK_BOOL, TK_BYTE, TK_SHORT, TK_INT, TK_LONG, TK_FLOAT, TK_DOUBLE,
 TK_STRING, TK_BINARY, TK_TIMESTAMP, TK_LIST, TK_MAP, TK_STRUCT,
 TK_UNION, TK_DECIMAL, TK_DATE, TK_VARCHAR, TK_CHAR,
 TK_TIMESTAMP_INSTANT) = range(19)


def _pos_extras(col_kind: int, stream_kind: int) -> int:
    """Number of trailing zero position entries a stream contributes to
    a RowIndexEntry beyond its byte offset (public ORC spec, row index
    positions): RLE streams add a values-into-run skip, bit streams add
    a run skip AND a bit offset, raw byte streams add nothing.  The
    writer chunk-flushes every encoder at group boundaries, so the
    extras are always zero — but they must be PRESENT for external
    readers to parse the tuples."""
    if stream_kind == K_PRESENT:
        return 2
    if stream_kind == K_DATA:
        if col_kind == TK_BOOL:
            return 2
        if col_kind in (TK_BYTE, TK_SHORT, TK_INT, TK_LONG, TK_DATE,
                        TK_TIMESTAMP, TK_UNION):
            return 1  # RLE value skip (union TAG is a byte-RLE stream)
        return 0      # float/double/string/binary/decimal-varint bytes
    if stream_kind in (K_LENGTH, K_SECONDARY):
        return 1      # RLE value skip
    return 0


# ---------------------------------------------------------------------------
# minimal protobuf wire format (varint / 64-bit / bytes / 32-bit)
# ---------------------------------------------------------------------------

def _pb_parse(buf) -> dict[int, list]:
    """Message bytes -> {field_number: [values...]}; length-delimited
    fields stay raw bytes for the caller to interpret."""
    buf = memoryview(buf)
    out: dict[int, list] = {}
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = read_varint(buf, pos)
        elif wire == 1:
            v = int.from_bytes(buf[pos: pos + 8], "little")
            pos += 8
        elif wire == 2:
            ln, pos = read_varint(buf, pos)
            v = bytes(buf[pos: pos + ln])
            pos += ln
        elif wire == 5:
            v = int.from_bytes(buf[pos: pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def _one(msg: dict, field: int, default=0):
    return msg[field][0] if field in msg else default


def _pb_field_varint(out: bytearray, field: int, v: int) -> None:
    write_varint(out, field << 3)
    write_varint(out, v)


def _pb_field_bytes(out: bytearray, field: int, data: bytes) -> None:
    write_varint(out, (field << 3) | 2)
    write_varint(out, len(data))
    out += data


# ---------------------------------------------------------------------------
# column statistics: one producer, one ColumnStatistics codec
# ---------------------------------------------------------------------------

def _range_field(t: pa.DataType) -> int | None:
    """The ColumnStatistics field that holds a type's min/max:
    IntegerStatistics (every integer width), DoubleStatistics,
    StringStatistics, DateStatistics; None for types without range
    statistics (booleans among them)."""
    if pa.types.is_integer(t):
        return 2
    if pa.types.is_floating(t):
        return 3
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return 4
    if pa.types.is_date32(t):
        return 7
    return None


def unit_stats(arr: pa.Array) -> ColStats:
    """Statistics of one unit (stripe, row group) of one column in one
    `min_max` pass: non-null count, null flag and, for types with range
    statistics, min and max (dates as days).  A float unit that holds
    NaN gets a NaN max, since `min_max` leaves NaN out; that also
    covers an all-NaN unit, whose `min_max` is (inf, -inf)."""
    st = ColStats(n_values=len(arr) - arr.null_count,
                  has_null=arr.null_count > 0)
    field = _range_field(arr.type)
    if st.n_values and field is not None:
        if field == 7:
            arr = arr.cast(pa.int32())
        mm = pc.min_max(arr)
        st.min, st.max = mm["min"].as_py(), mm["max"].as_py()
        if field == 3 and pc.any(pc.is_nan(arr)).as_py():
            st.max = float("nan")
    return st


def column_statistics(arr: pa.Array) -> bytes:
    """The ORC ColumnStatistics message of one unit of `arr`:
    numberOfValues, the type's min/max message when it has values, and
    hasNull."""
    st = unit_stats(arr)
    field = _range_field(arr.type)
    cs = bytearray()
    _pb_field_varint(cs, 1, st.n_values)
    if st.min is not None:
        s = bytearray()
        if field == 3:
            for f, v in ((1, st.min), (2, st.max)):
                write_varint(s, (f << 3) | 1)  # 64-bit wire type
                s += struct.pack("<d", v)
        elif field == 4:
            _pb_field_bytes(s, 1, st.min.encode())
            _pb_field_bytes(s, 2, st.max.encode())
        else:  # sint64 / sint32 zigzag
            _pb_field_varint(s, 1, zigzag_encode_scalar(st.min))
            _pb_field_varint(s, 2, zigzag_encode_scalar(st.max))
        _pb_field_bytes(cs, field, bytes(s))
    _pb_field_varint(cs, 10, int(st.has_null))
    return bytes(cs)


def _parse_col_stats(raw: bytes, nan_in_max: bool) -> ColStats | None:
    """ColumnStatistics -> ColStats (min/max for int/double/string/date,
    plus numberOfValues and hasNull), or None when the message carries
    nothing usable.  `nan_in_max` says the writer records NaN as the
    max of a unit that holds it (`unit_stats`); other writers leave NaN
    out of min/max, so their double units may hold NaN outside it."""
    cs = _pb_parse(raw)
    out = ColStats()
    if 1 in cs:
        out.n_values = _one(cs, 1)
    if 10 in cs:
        out.has_null = bool(_one(cs, 10))
    if 2 in cs or 7 in cs:  # Integer / Date statistics (zigzag)
        s = _pb_parse(cs[2 if 2 in cs else 7][0])
        if 1 in s and 2 in s:
            out.min = zigzag_decode_scalar(_one(s, 1))
            out.max = zigzag_decode_scalar(_one(s, 2))
    elif 3 in cs:  # DoubleStatistics (64-bit doubles)
        s = _pb_parse(cs[3][0])
        out.may_have_nan = not nan_in_max
        if 1 in s and 2 in s:
            out.min = struct.unpack("<d", s[1][0].to_bytes(8, "little"))[0]
            out.max = struct.unpack("<d", s[2][0].to_bytes(8, "little"))[0]
    elif 4 in cs:  # StringStatistics
        s = _pb_parse(cs[4][0])
        if 1 in s and 2 in s:
            out.min, out.max = s[1][0].decode(), s[2][0].decode()
    if out.min is None and out.n_values is None and out.has_null is None:
        return None
    return out
