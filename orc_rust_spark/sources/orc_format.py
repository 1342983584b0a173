"""Shared ORC protobuf enum constants (format/orc_proto.proto in the
reference; public spec) and the row-index position layout.  Single
source of truth for the reader and writer so the two sides cannot
drift."""

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
