"""Stripe encode/decode: an Arrow RecordBatch <-> one self-describing
binary stripe blob with per-column streams.

This is our engine's analog of the reference's stripe writer/reader
(`src/writer/stripe.rs:65-171`, `src/stripe.rs:119-182`): each column is
encoded independently into streams keyed (column, kind); values and
validity are separated — a PRESENT stream (boolean bit-RLE,
`src/encoding/boolean.rs:116-169`) is emitted only when the column has
nulls, and data streams store only the non-null values which decode
re-spaces (`src/encoding/mod.rs:64-91` decode_spaced).  Column-type ->
codec defaults mirror `src/writer/stripe.rs:173-189` (ints -> RLEv2
signed, int8 -> byte RLE, floats -> raw IEEE-754, strings -> direct +
LENGTH, bool -> bit-RLE); beyond the reference we add dictionary, FoR,
bit-pack and FSST with deterministic auto-selection (BASELINE.json
north_star).

Blob layout (little header, then concatenated streams):
    magic  b"OSP1"
    varint n_rows, varint n_cols
    per column: varint len(name), name, u8 type_code, u8 has_present,
                u8 codec, varint aux (dict size; else 0)
    varint n_streams
    per stream: varint col_idx, u8 stream_kind, varint byte_len
    stream bytes...
"""

from __future__ import annotations

import numbers
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .kernels.assemble import (
    binary_parts,
    decimal_array,
    decimal_mantissas,
    dict_var_array,
    dictionary_pays,
    list_array,
    list_parts,
    map_array,
    sorted_dictionary,
    split_validity,
    spread,
    timestamp_us,
    var_array,
)
from .kernels.boolean import boolean_decode, boolean_encode
from .kernels.byte_rle import byte_rle_decode, byte_rle_encode
from .kernels.float_codec import float_decode, float_encode
from .kernels.for_codec import (
    bitpack_decode,
    bitpack_encode,
    for_decode,
    for_encode,
    int_dict_decode,
    int_dict_encode,
)
from .kernels.fsst import fsst_decompress
from .kernels.rle_v2 import rle_v2_decode, rle_v2_encode
from .kernels.util import (
    bits_used_scalar,
    read_varint,
    write_varint,
    write_varint_zigzagged,
)
from .sources.orc_format import _parse_col_stats, column_statistics
from .sources.predicate import Predicate, as_predicate

MAGIC = b"OSP1"
MAGIC_COMPRESSED = b"OSPC"  # + u8 kind + ORC chunked stream of an OSP1 blob


def wrap_compressed(blob: bytes, kind: int) -> bytes:
    """Optionally wrap a stripe blob in ORC chunked block compression
    (kernels/compression.py; §2.2 of SURVEY).  kind 0 returns as-is —
    the reference writer also emits CompressionKind::None
    (`src/arrow_writer.rs:251`)."""
    from .kernels.compression import K_NONE, compress_stream
    if kind == K_NONE:
        return blob
    return MAGIC_COMPRESSED + bytes([kind]) + compress_stream(blob, kind)


def unwrap_compressed(blob):
    buf = memoryview(blob)
    # pa.Buffer memoryviews are signed ('b'): byte reads >= 128 would
    # come back negative in every varint/header parse downstream.
    # Normalize ONCE here — slices of an unsigned view stay unsigned,
    # and zero-copy callers (decode_pass hands the Arrow data buffer
    # straight in) rely on it.
    if buf.format != "B":
        buf = buf.cast("B")
    if bytes(buf[:4]) != MAGIC_COMPRESSED:
        return buf
    from .kernels.compression import decompress_stream
    return decompress_stream(buf[5:], buf[4])

# type codes
T_INT8, T_INT16, T_INT32, T_INT64 = 1, 2, 3, 4
T_FLOAT32, T_FLOAT64 = 5, 6
T_STRING, T_BINARY = 7, 8
T_BOOL = 9
T_LIST_INT32 = 10
T_DATE32 = 11
T_TIMESTAMP_US = 12
T_STRUCT = 13
T_MAP = 14
T_LIST_GEN = 15
T_DECIMAL128 = 16  # aux = (precision << 8) | scale
T_UNION = 17       # sparse union: TAG byte-RLE + full-length children

# codec codes
C_RAW = 0
C_RLEV2 = 1
C_BYTE_RLE = 3
C_BOOLEAN = 4
C_FLOAT = 5
C_STRING_DIRECT = 6
C_STRING_DICT = 7
C_FOR = 8
C_BITPACK = 9
C_INT_DICT = 10
C_FSST = 11
C_DECIMAL = 12      # varint mantissas + RLEv2 scales (decimal.rs layout)
C_TS2 = 13          # ORC two-stream timestamp (timestamp.rs layout)

CODEC_NAMES = {
    C_RAW: "raw", C_RLEV2: "rlev2", C_BYTE_RLE: "byte_rle", C_BOOLEAN: "boolean",
    C_FLOAT: "float", C_STRING_DIRECT: "string_direct", C_STRING_DICT: "string_dict",
    C_FOR: "for", C_BITPACK: "bitpack", C_INT_DICT: "int_dict", C_FSST: "fsst",
    C_DECIMAL: "decimal", C_TS2: "ts_two_stream",
}

# stream kinds (mirrors proto.rs:192-209 stream kinds we need)
K_PRESENT, K_DATA, K_LENGTH, K_DICT_DATA, K_DICT_LENGTH, K_SECONDARY = 0, 1, 2, 3, 4, 5

_PA_TYPE_CODES = {
    pa.int8(): T_INT8,
    pa.int16(): T_INT16,
    pa.int32(): T_INT32,
    pa.int64(): T_INT64,
    pa.float32(): T_FLOAT32,
    pa.float64(): T_FLOAT64,
    pa.string(): T_STRING,
    pa.large_string(): T_STRING,
    pa.binary(): T_BINARY,
    pa.bool_(): T_BOOL,
    pa.date32(): T_DATE32,
    pa.timestamp("us"): T_TIMESTAMP_US,
}

_INT_TYPES = {T_INT16, T_INT32, T_INT64, T_DATE32, T_TIMESTAMP_US}


def _type_code(t: pa.DataType) -> int:
    if t in _PA_TYPE_CODES:
        return _PA_TYPE_CODES[t]
    if pa.types.is_map(t):
        return T_MAP
    if pa.types.is_list(t) and t.value_type == pa.int32():
        return T_LIST_INT32
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T_LIST_GEN
    if pa.types.is_struct(t):
        return T_STRUCT
    if pa.types.is_timestamp(t):
        return T_TIMESTAMP_US
    if pa.types.is_decimal(t):
        return T_DECIMAL128
    if pa.types.is_union(t):
        return T_UNION
    raise TypeError(f"unsupported column type: {t}")


_ARROW_TYPES = {code: t for t, code in _PA_TYPE_CODES.items()
                if t != pa.large_string()}


def _arrow_type(code: int) -> pa.DataType:
    t = _ARROW_TYPES.get(code)
    if t is None:
        raise ValueError(f"unknown stripe type code {code}")
    return t


# ---------------------------------------------------------------------------
# integer codec auto-selection (§4.3 of SURVEY: the part Catalyst can't do)
# ---------------------------------------------------------------------------

def encode_int_auto(values: np.ndarray, candidates: tuple[int, ...] = (C_RLEV2, C_FOR, C_INT_DICT)) -> tuple[int, bytes]:
    """Deterministically pick the smallest encoding among candidates.

    RLEv2 (the reference's own choice for int columns,
    `src/writer/stripe.rs:178-180`) is always a candidate, so the chosen
    size is <= the reference's compressed size by construction.
    Ties break by candidate order (deterministic resume requirement).
    Narrow dtypes (int32 token streams) pass through untouched so the
    RLEv2 batch encoder's 32-bit fast path engages.
    """
    v = np.ascontiguousarray(values)
    if v.dtype not in (np.int64, np.int32, np.int16):
        v = v.astype(np.int64)
    best_codec, best = None, None
    for c in candidates:
        if c == C_RLEV2:
            enc = rle_v2_encode(v, signed=True)
        elif c == C_FOR:
            # FoR output size is exactly computable from min/max (flat
            # pack at bits(max-min)); skip the full encode pass unless
            # it would actually beat the current best — on zipf token
            # streams RLEv2's patched-base always wins, so this turns a
            # full-array candidate encode into two cheap reductions
            if best is not None and len(v):
                lo, hi = int(v.min()), int(v.max())
                width = bits_used_scalar((hi - lo) & 0xFFFFFFFFFFFFFFFF)
                hdr = bytearray()
                write_varint_zigzagged(hdr, len(v), False)
                write_varint_zigzagged(hdr, lo, True)
                est = len(hdr) + 1 + ((len(v) * width + 7) // 8 if width else 0)
                if est >= len(best):
                    continue
            enc = for_encode(v)
        elif c == C_BITPACK:
            if len(v) and v.min() < 0:
                continue
            enc = bitpack_encode(v)
        elif c == C_INT_DICT:
            # only worth trying when cardinality is low enough to pay off
            if len(v) > 64 and len(np.unique(v[:: max(len(v) // 1024, 1)])) > 256:
                continue
            enc = int_dict_encode(v)
        else:
            continue
        if best is None or len(enc) < len(best):
            best_codec, best = c, enc
    assert best is not None
    return best_codec, best


def _decode_int(codec: int, buf: bytes, n: int,
                out_dtype=np.int64) -> np.ndarray:
    """``out_dtype`` lets int32/int16 columns decode straight into their
    narrow dtype (the values fit by construction — they were encoded
    from that dtype), skipping a full-length astype pass."""
    if codec == C_RLEV2:
        return rle_v2_decode(buf, n, signed=True, out_dtype=out_dtype)
    if codec == C_FOR:
        vals = for_decode(buf)
    elif codec == C_BITPACK:
        vals = bitpack_decode(buf)
    elif codec == C_INT_DICT:
        vals = int_dict_decode(buf)
    else:
        raise ValueError(f"unknown int codec {codec}")
    return vals if out_dtype == np.int64 else vals.astype(out_dtype)


# ---------------------------------------------------------------------------
# string codecs at the stripe level
# ---------------------------------------------------------------------------

def _encode_string_auto(valid: pa.Array) -> tuple[int, int, dict[int, bytes]]:
    """Returns (codec, aux, streams) for the non-null values `valid`.
    Candidates: direct, dictionary, FSST-over-direct (kernels/fsst.py;
    north_star codec absent from the reference).  FSST is tried only
    when a sampled compression estimate predicts a win; the smallest
    actual encoding is chosen, ties broken deterministically (direct <
    dict < fsst by candidate order)."""
    data_blob, lengths = binary_parts(valid)
    length_stream = rle_v2_encode(lengths, signed=False)
    direct_size = len(data_blob) + len(length_stream)

    codec, aux = C_STRING_DIRECT, 0
    streams = {K_DATA: data_blob, K_LENGTH: length_stream}
    if dictionary_pays(valid):
        dict_blob, dict_lengths, indices = sorted_dictionary(valid)
        idx_stream = rle_v2_encode(indices, signed=False)
        dl_stream = rle_v2_encode(dict_lengths, signed=False)
        dict_size = len(dict_blob) + len(idx_stream) + len(dl_stream)
        if dict_size < direct_size:
            codec, aux = C_STRING_DICT, len(dict_lengths)
            streams = {K_DATA: idx_stream, K_DICT_LENGTH: dl_stream,
                       K_DICT_DATA: dict_blob}
    # FSST attempt, sample-gated (blob must be big enough to amortize
    # the symbol table and the estimate must predict a real win).  The
    # table trains ONCE on the leading 16 KiB — `fsst_compress(probe)`
    # would train on exactly the same bytes, so reusing the table for
    # the probe estimate and the full encode is byte-identical while
    # skipping a duplicate train + probe parse per stripe.
    # Skipped entirely when dictionary already compresses >= 8x: one
    # FSST code covers at most MAX_LEN == 8 input bytes, so 8x is
    # FSST's ceiling on the DATA stream before table overhead — it
    # cannot beat such a dictionary, and training it was a pure
    # per-stripe fixed cost on low-cardinality columns.  RLEv2/dict
    # stay in the race, so chosen size remains <= the reference's.
    dict_crushed = codec == C_STRING_DICT and \
        sum(len(s) for s in streams.values()) * 8 <= direct_size
    if len(data_blob) >= 2048 and not dict_crushed:
        from .kernels.fsst import fsst_compress_with, fsst_train
        data_np = np.frombuffer(data_blob, dtype=np.uint8)
        table = fsst_train(data_np)
        probe_n = 1 << 14
        est = fsst_compress_with(data_np[:probe_n], table)
        if len(est) * 10 < min(len(data_blob), probe_n) * 8:  # ratio > 1.25
            full = est if len(data_blob) <= probe_n \
                else fsst_compress_with(data_np, table)
            best = sum(len(s) for s in streams.values())  # current winner
            if len(full) + len(length_stream) < best:
                codec, aux = C_FSST, 0
                streams = {K_DATA: full, K_LENGTH: length_stream}
    return codec, aux, streams


# ---------------------------------------------------------------------------
# stripe encode
# ---------------------------------------------------------------------------

@dataclass
class ColumnPlan:
    """Per-column codec routing from the sampling pass.  The planned
    codec narrows the candidate set but RLEv2 (the reference's own
    encoding) always stays in the race, so the chosen size remains <=
    the reference's compressed size on every stripe."""
    codec: int | None = None

    def candidates(self) -> tuple[int, ...] | None:
        if self.codec is None:
            return None  # encoder default: try every candidate
        if self.codec == C_RLEV2:
            return (C_RLEV2,)
        return (C_RLEV2, self.codec)


def _encode_column(name, arr, plan, metas, streams_out) -> None:
    """Recursive column encoder: appends (meta, streams) entries
    depth-first — nested types (struct/map/list) mirror the reference's
    column-tree decomposition (`src/schema.rs:240-320`, §2.5): parent
    PRESENT + child columns, LENGTH streams for list-likes."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    tcode = _type_code(arr.type)
    validity, valid_arr = split_validity(arr)
    has_present = 0 if validity is None else 1
    streams: dict[int, bytes] = {}
    if has_present:
        streams[K_PRESENT] = boolean_encode(validity)
    aux = 0
    codec = C_RAW
    children: list[tuple[str, pa.Array]] = []

    if tcode == T_TIMESTAMP_US and plan.codec == C_TS2:
        # ORC two-stream layout (seconds-from-2015 + nano trick),
        # `src/encoding/timestamp.rs:30-197`; exact for µs instants
        from .kernels.timestamp_decimal import timestamp_encode_us
        codec = C_TS2
        streams[K_DATA], streams[K_SECONDARY] = \
            timestamp_encode_us(timestamp_us(valid_arr))
    elif tcode == T_DECIMAL128:
        from .kernels.timestamp_decimal import decimal_encode
        t = valid_arr.type
        aux = (t.precision << 8) | t.scale
        codec = C_DECIMAL
        streams[K_DATA], streams[K_SECONDARY] = \
            decimal_encode(decimal_mantissas(valid_arr), t.scale)
    elif tcode in _INT_TYPES:
        if tcode == T_TIMESTAMP_US:
            vals = timestamp_us(valid_arr)
        elif tcode == T_DATE32:
            vals = valid_arr.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
        else:
            vals = valid_arr.to_numpy(zero_copy_only=False)
        codec, streams[K_DATA] = _encode_ints(vals, plan)
    elif tcode == T_INT8:
        vals = valid_arr.to_numpy(zero_copy_only=False).astype(np.int8)
        codec = C_BYTE_RLE
        streams[K_DATA] = byte_rle_encode(vals)
    elif tcode in (T_FLOAT32, T_FLOAT64):
        dt = np.float32 if tcode == T_FLOAT32 else np.float64
        vals = valid_arr.to_numpy(zero_copy_only=False).astype(dt)
        codec = C_FLOAT
        streams[K_DATA] = float_encode(vals)
    elif tcode == T_BOOL:
        vals = valid_arr.to_numpy(zero_copy_only=False).astype(bool)
        codec = C_BOOLEAN
        streams[K_DATA] = boolean_encode(vals)
    elif tcode in (T_STRING, T_BINARY):
        codec, aux, sstreams = _encode_string_auto(valid_arr)
        streams.update(sstreams)
    elif tcode in (T_LIST_INT32, T_LIST_GEN, T_MAP):
        row_lengths, entries = list_parts(valid_arr)
        streams[K_LENGTH] = rle_v2_encode(row_lengths, signed=False)
        if tcode == T_LIST_INT32 and not entries.null_count:
            # the token fast path: int32 elements in this column's own
            # DATA stream; null elements need the general child column
            codec, streams[K_DATA] = _encode_ints(
                entries.to_numpy(zero_copy_only=False), plan)
        else:
            tcode = T_MAP if tcode == T_MAP else T_LIST_GEN
            aux = 1
            children = [("item", entries)]
    elif tcode == T_STRUCT:
        aux = valid_arr.type.num_fields
        children = [(valid_arr.type.field(i).name, valid_arr.field(i))
                    for i in range(aux)]
    elif tcode == T_UNION:
        # sparse union (`src/array_decoder/union.rs:36-163`): a byte-RLE
        # TAG stream selects among full-length children; arrow unions
        # carry no validity of their own, matching the reference's
        # "rely on child arrays" semantics.  Spark has no union type
        # (SURVEY §1.2) — this is a stripe-format capability for parity,
        # exercised by direct kernel tests.
        if valid_arr.type.mode != "sparse":
            raise TypeError("only sparse unions are supported")
        aux = valid_arr.type.num_fields
        tags = np.frombuffer(valid_arr.buffers()[1], dtype=np.int8)[
            valid_arr.offset: valid_arr.offset + len(valid_arr)]
        if not set(tags.tolist()) <= set(range(aux)):
            raise ValueError("union type codes must be 0..n_children-1")
        codec = C_BYTE_RLE
        streams[K_DATA] = byte_rle_encode(tags)
        children = [(valid_arr.type.field(i).name, valid_arr.field(i))
                    for i in range(aux)]
    else:
        raise TypeError(f"unsupported type code {tcode}")

    metas.append((name, tcode, has_present, codec, aux))
    streams_out.append(streams)
    for child_name, child in children:
        _encode_column(child_name, child, ColumnPlan(), metas, streams_out)


def _encode_ints(vals: np.ndarray, plan: ColumnPlan) -> tuple[int, bytes]:
    cand = plan.candidates()
    return encode_int_auto(vals) if cand is None \
        else encode_int_auto(vals, cand)


def encode_stripe(batch: pa.RecordBatch, plans: dict[str, ColumnPlan] | None = None) -> bytes:
    plans = plans or {}
    n_rows = batch.num_rows
    header = bytearray()
    stream_dir = bytearray()
    payload = bytearray()
    col_metas: list[tuple] = []
    col_streams: list[dict[int, bytes]] = []

    for ci, field in enumerate(batch.schema):
        _encode_column(field.name, batch.column(ci),
                       plans.get(field.name, ColumnPlan()),
                       col_metas, col_streams)

    all_streams: list[tuple[int, int, bytes]] = []
    for ci, streams in enumerate(col_streams):
        for kind, blob in sorted(streams.items()):
            all_streams.append((ci, kind, blob))

    header += MAGIC
    write_varint(header, n_rows)
    write_varint(header, len(col_metas))
    for name, tcode, has_present, codec, aux in col_metas:
        nb = name.encode()
        write_varint(header, len(nb))
        header += nb
        header.append(tcode)
        header.append(has_present)
        header.append(codec)
        write_varint(header, aux)
    write_varint(stream_dir, len(all_streams))
    for ci, kind, blob in all_streams:
        write_varint(stream_dir, ci)
        stream_dir.append(kind)
        write_varint(stream_dir, len(blob))
        payload += blob
    return bytes(header + stream_dir + payload)


# ---------------------------------------------------------------------------
# stripe decode
# ---------------------------------------------------------------------------

def _subtree_size(metas, mi: int) -> int:
    _, tcode, _, _, aux = metas[mi]
    size = 1
    if tcode in (T_STRUCT, T_UNION):
        for _ in range(aux):
            size += _subtree_size(metas, mi + size)
    elif tcode in (T_MAP, T_LIST_GEN):
        size += _subtree_size(metas, mi + size)
    return size


def _decode_tree(metas, mi: int, stream_for, n: int) -> tuple[pa.Array, int]:
    """Recursive column decoder: consumes metas depth-first, producing
    an Arrow array of exactly n rows."""
    name, tcode, has_present, codec, aux = metas[mi]

    def stream(kind: int):
        return stream_for(mi, kind)

    if has_present:
        validity = boolean_decode(stream(K_PRESENT), n)
        n_valid = int(validity.sum())
    else:
        validity = None
        n_valid = n

    if tcode in (T_STRUCT, T_UNION):
        # struct children hold the valid rows; sparse union children
        # are full length
        m = n_valid if tcode == T_STRUCT else n
        children, names = [], []
        mj = mi + 1
        for _ in range(aux):
            names.append(metas[mj][0])
            child, mj = _decode_tree(metas, mj, stream_for, m)
            children.append(child)
        if tcode == T_UNION:
            tags = byte_rle_decode(stream(K_DATA), n).view(np.int8)
            return pa.UnionArray.from_sparse(
                pa.array(tags, pa.int8()), children, field_names=names), mj
        st = pa.StructArray.from_arrays(children, names)
        return spread(st, validity, n), mj

    if tcode in (T_MAP, T_LIST_GEN, T_LIST_INT32):
        row_lengths = rle_v2_decode(stream(K_LENGTH), n_valid, signed=False)
        total = int(row_lengths.sum())
        if tcode == T_LIST_INT32:
            child = pa.array(_decode_int(codec, stream(K_DATA), total,
                                         out_dtype=np.int32), pa.int32())
            mj = mi + 1
        else:
            child, mj = _decode_tree(metas, mi + 1, stream_for, total)
        if tcode == T_MAP:
            return map_array(row_lengths, child.field(0), child.field(1),
                             validity, n), mj
        return list_array(row_lengths, child, validity, n), mj

    if tcode == T_DECIMAL128:
        from .kernels.timestamp_decimal import decimal_decode
        prec, scl = aux >> 8, aux & 0xFF
        mant = decimal_decode(stream(K_DATA), stream(K_SECONDARY),
                              n_valid, scl)
        return spread(decimal_array(mant, pa.decimal128(prec, scl)),
                      validity, n), mi + 1

    atype = _arrow_type(tcode)
    if tcode in (T_STRING, T_BINARY):
        if codec == C_STRING_DICT:
            dict_lengths = rle_v2_decode(stream(K_DICT_LENGTH), aux,
                                         signed=False)
            indices = rle_v2_decode(stream(K_DATA), n_valid, signed=False,
                                    out_dtype=np.int32)
            arr = dict_var_array(dict_lengths, stream(K_DICT_DATA), indices,
                                 atype, validity, n)
        elif codec in (C_STRING_DIRECT, C_FSST):
            lengths = rle_v2_decode(stream(K_LENGTH), n_valid, signed=False)
            blob = fsst_decompress(stream(K_DATA)) if codec == C_FSST \
                else stream(K_DATA)
            arr = var_array(lengths, blob, atype, validity, n)
        else:
            raise ValueError(f"unknown string codec {codec}")
        return arr, mi + 1

    if tcode == T_TIMESTAMP_US and codec == C_TS2:
        from .kernels.timestamp_decimal import timestamp_decode_us
        vals = timestamp_decode_us(stream(K_DATA), stream(K_SECONDARY),
                                   n_valid)
    elif tcode in _INT_TYPES:
        nd = np.int32 if tcode in (T_INT32, T_DATE32) else \
            np.int16 if tcode == T_INT16 else np.int64
        vals = _decode_int(codec, stream(K_DATA), n_valid, out_dtype=nd)
    elif tcode == T_INT8:
        vals = byte_rle_decode(stream(K_DATA), n_valid).view(np.int8)
    elif tcode in (T_FLOAT32, T_FLOAT64):
        dt = np.float32 if tcode == T_FLOAT32 else np.float64
        vals = float_decode(stream(K_DATA), n_valid, dt)
    else:  # T_BOOL: `_arrow_type` rejected every unknown code
        vals = boolean_decode(stream(K_DATA), n_valid)
    return spread(vals, validity, n, atype), mi + 1


def decode_stripe(blob, columns: list[str] | None = None) -> pa.RecordBatch:
    """Decode a stripe; `columns` projects (unprojected streams are never
    touched — the analog of `src/projection.rs` + `src/stripe.rs:159`)."""
    blob = unwrap_compressed(blob)
    buf = memoryview(blob)
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("bad stripe magic")
    pos = 4
    n_rows, pos = read_varint(buf, pos)
    n_cols, pos = read_varint(buf, pos)
    metas = []
    for _ in range(n_cols):
        ln, pos = read_varint(buf, pos)
        name = bytes(buf[pos : pos + ln]).decode()
        pos += ln
        tcode = buf[pos]
        has_present = buf[pos + 1]
        codec = buf[pos + 2]
        pos += 3
        aux, pos = read_varint(buf, pos)
        metas.append((name, tcode, has_present, codec, aux))
    n_streams, pos = read_varint(buf, pos)
    dir_entries = []
    for _ in range(n_streams):
        ci, pos = read_varint(buf, pos)
        kind = buf[pos]
        pos += 1
        ln, pos = read_varint(buf, pos)
        dir_entries.append((ci, kind, ln))
    offset = pos
    stream_loc: dict[tuple[int, int], tuple[int, int]] = {}
    for ci, kind, ln in dir_entries:
        stream_loc[(ci, kind)] = (offset, ln)
        offset += ln
    # corrupt-input guard (`tests/integration/data/corrupt` analog): a
    # truncated blob or an overlong directory length must fail cleanly
    # here, not decode garbage from a short buffer downstream
    if offset > len(buf):
        raise ValueError(
            f"truncated stripe: directory claims {offset} bytes, "
            f"blob has {len(buf)}")

    def stream_for(ci: int, kind: int):
        loc = stream_loc.get((ci, kind))
        if loc is None:
            raise ValueError(f"stripe has no stream of kind {kind} for "
                             f"column {ci} ({metas[ci][0]!r})")
        off, ln = loc
        return buf[off : off + ln]

    want = set(columns) if columns is not None else None
    out_arrays = []
    out_fields = []
    mi = 0
    while mi < len(metas):
        name = metas[mi][0]
        if want is not None and name not in want:
            mi += _subtree_size(metas, mi)
            continue
        arr, mi = _decode_tree(metas, mi, stream_for, n_rows)
        out_arrays.append(arr)
        out_fields.append(pa.field(name, arr.type))
    return pa.RecordBatch.from_arrays(out_arrays, schema=pa.schema(out_fields))


def stripe_num_rows(blob) -> int:
    buf = memoryview(blob)
    if bytes(buf[:4]) == MAGIC_ROWGROUP:
        return sum(g["n_rows"] for g in _rowgroup_meta(buf))
    n_rows, _ = read_varint(buf, 4)
    return n_rows


# ---------------------------------------------------------------------------
# row-grouped stripes: sub-stripe statistics + selective decode
# (`src/row_index.rs:18-60`, `src/row_group_filter.rs:51-118` analog —
# the reference keeps per-row-group positions + min/max and skips
# non-matching groups; here each row group is its own encoded section,
# so a skipped group's bytes are never touched, not just not returned)
# ---------------------------------------------------------------------------

MAGIC_ROWGROUP = b"OSPR"
DEFAULT_ROW_GROUP_ROWS = 10_000  # the reference's index stride


def encode_stripe_rowgroups(batch: pa.RecordBatch,
                            plans: dict[str, ColumnPlan] | None = None,
                            group_rows: int = DEFAULT_ROW_GROUP_ROWS,
                            stat_columns: list[str] | None = None) -> bytes:
    """Encode with a row-group index: the batch splits into ~group_rows
    sections, each an independent OSP1 stripe, with per-group per-column
    statistics in the container header — the ORC ColumnStatistics
    message `write_orc` writes (`orc_format.column_statistics`).

    Layout:
        magic  b"OSPR"
        varint n_groups, varint n_stat_cols
        per stat col: varint len(name), name
        per group: varint n_rows, varint blob_len,
                   per stat col: varint len(stats), ColumnStatistics
        group blobs...
    """
    names = [f.name for f in batch.schema]
    if stat_columns is None:
        stat_columns = [n for n, f in zip(names, batch.schema)
                        if pa.types.is_integer(f.type) or
                        pa.types.is_string(f.type) or
                        pa.types.is_floating(f.type)]
    starts = range(0, batch.num_rows, group_rows) or [0]
    out = bytearray(MAGIC_ROWGROUP)
    write_varint(out, len(starts))
    write_varint(out, len(stat_columns))
    for c in stat_columns:
        cb = c.encode()
        write_varint(out, len(cb))
        out += cb
    blobs: list[bytes] = []
    for off in starts:
        g = batch.slice(off, group_rows)
        blobs.append(encode_stripe(g, plans))
        write_varint(out, g.num_rows)
        write_varint(out, len(blobs[-1]))
        for c in stat_columns:
            cs = column_statistics(g.column(names.index(c)))
            write_varint(out, len(cs))
            out += cs
    for b in blobs:
        out += b
    return bytes(out)


def _rowgroup_meta(buf) -> list[dict]:
    """The group entries: n_rows, blob_len, offset and `ColStats` per
    stat column."""
    pos = 4
    n_groups, pos = read_varint(buf, pos)
    n_stat, pos = read_varint(buf, pos)
    stat_cols = []
    for _ in range(n_stat):
        ln, pos = read_varint(buf, pos)
        stat_cols.append(bytes(buf[pos: pos + ln]).decode())
        pos += ln
    metas = []
    for _ in range(n_groups):
        n_rows, pos = read_varint(buf, pos)
        blob_len, pos = read_varint(buf, pos)
        stats = {}
        for c in stat_cols:
            ln, pos = read_varint(buf, pos)
            stats[c] = _parse_col_stats(buf[pos: pos + ln], nan_in_max=True)
            pos += ln
        metas.append({"n_rows": n_rows, "blob_len": blob_len, "stats": stats})
    off = pos
    for m in metas:
        m["offset"] = off
        off += m["blob_len"]
    return metas


def _check_literals(pred: Predicate, metas: list[dict]) -> None:
    """Raise TypeError for a comparison literal that cannot compare with
    its stat column, whose type the groups' bounds tell: strings take
    str (or bytes), ints any real number, floats a real number that is
    not a bool.  A column with no bounds (all null) needs no check:
    every comparison prunes its groups."""
    for p in pred.leaves():
        if p.op is None or p.value is None:
            continue
        bound = next((st.min for m in metas
                      if (st := m["stats"].get(p.column)) is not None
                      and st.min is not None), None)
        v = p.value
        if bound is not None and not (
                isinstance(v, (str, bytes)) if isinstance(bound, str) else
                isinstance(v, numbers.Real) and
                not (isinstance(bound, float) and isinstance(v, bool))):
            raise TypeError(f"stat column {p.column!r} (type "
                            f"{type(bound).__name__}) cannot compare "
                            f"with a {type(v).__name__}")


def decode_stripe_rowgroups(blob, columns: list[str] | None = None,
                            predicate: Predicate | dict[str, tuple] |
                            None = None,
                            _stats=None) -> pa.RecordBatch:
    """Decode a row-grouped stripe; `predicate` is a `Predicate` or the
    {col: (lo, hi)} inclusive range dict.  A group is kept when
    `Predicate.evaluate` finds that its stored min/max may match; the
    others are skipped WITHOUT touching their bytes — the
    `evaluate_predicate` -> skip path of `src/row_group_filter.rs`.  A
    literal that cannot compare with its column raises TypeError."""
    buf = memoryview(blob)
    if buf.format != "B":  # pa.Buffer views are signed; see unwrap_compressed
        buf = buf.cast("B")
    if bytes(buf[:4]) != MAGIC_ROWGROUP:
        raise ValueError("bad row-group stripe magic")
    metas = _rowgroup_meta(buf)
    pred = as_predicate(predicate)
    if pred is not None:
        _check_literals(pred, metas)
    batches = []
    n_scanned = 0
    for m in metas:
        if pred is None or pred.evaluate(m["stats"].get):
            sub = bytes(buf[m["offset"]: m["offset"] + m["blob_len"]])
            batches.append(decode_stripe(sub, columns=columns))
            n_scanned += m["n_rows"]
    if _stats is not None:
        _stats["groups_total"] = len(metas)
        _stats["groups_decoded"] = len(batches)
        _stats["rows_decoded"] = n_scanned
    if not batches:
        first = bytes(buf[metas[0]["offset"]:
                          metas[0]["offset"] + metas[0]["blob_len"]])
        return decode_stripe(first, columns=columns).slice(0, 0)
    tbl = pa.Table.from_batches(batches).combine_chunks()
    return tbl.to_batches()[0] if tbl.num_rows else batches[0].slice(0, 0)
