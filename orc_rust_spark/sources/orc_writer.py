"""Real Apache ORC v1 file writer built on the engine's own kernels —
the `ArrowWriter` surface of the reference (`src/arrow_writer.rs:90-155`,
`src/writer/stripe.rs:82-171`) re-expressed against the public ORC spec.

Files produced here are read back by BOTH pyarrow's C++ ORC reader and
our `orc_reader.py` (cross-checked in `tests/test_orc_writer.py`), so
an orc-rust user's write path has a drop-in equivalent: Arrow batches
in, spec-compliant `.orc` out, with the same kernel encodings the
reference writer picks (`src/writer/stripe.rs:173-189`): ints RLEv2
DirectV2, int8 byte-RLE, bool bit-RLE, floats IEEE direct, strings
DirectV2 (or DictionaryV2 when a sampled cardinality check pays),
decimals as varint mantissas + RLEv2 scales, timestamps as the
two-stream 2015-epoch layout, nested struct/list/map as parent
PRESENT + child columns, PRESENT bit-RLE only when a column has nulls.

Compression: NONE or chunked zlib; one stripe per `write_batch` call.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..kernels.assemble import (binary_parts, decimal_mantissas,
                               dictionary_pays, list_parts,
                               sorted_dictionary, split_validity,
                               timestamp_us)
from ..kernels.boolean import boolean_encode, boolean_encode_with_marks
from ..kernels.byte_rle import byte_rle_encode
from ..kernels.compression import compress_stream
from ..kernels.float_codec import float_encode
from ..kernels.rle_v2 import rle_v2_encode
from ..kernels.timestamp_decimal import (ORC_TS_BASE_SECONDS,
                                         _writer_tz_base_seconds,
                                         decimal_encode, timestamp_encode_us)
from ..kernels.util import write_varint

from .orc_format import (  # noqa: F401  (shared spec enums)
    K_ROW_INDEX,
    ENC_DICT,
    ENC_DICT_V2,
    ENC_DIRECT,
    ENC_DIRECT_V2,
    K_DATA,
    K_DICT_DATA,
    K_LENGTH,
    K_PRESENT,
    K_SECONDARY,
    TK_BINARY,
    TK_BOOL,
    TK_BYTE,
    TK_DATE,
    TK_DECIMAL,
    TK_DOUBLE,
    TK_FLOAT,
    TK_INT,
    TK_LIST,
    TK_LONG,
    TK_MAP,
    TK_SHORT,
    TK_STRING,
    TK_STRUCT,
    TK_TIMESTAMP,
    TK_UNION,
    _pb_field_bytes,
    _pb_field_varint,
    _pos_extras,
    column_statistics,
)

_PA_SCALAR_TO_ORC = {
    pa.bool_(): TK_BOOL, pa.int8(): TK_BYTE, pa.int16(): TK_SHORT,
    pa.int32(): TK_INT, pa.int64(): TK_LONG, pa.float32(): TK_FLOAT,
    pa.float64(): TK_DOUBLE, pa.string(): TK_STRING,
    pa.large_string(): TK_STRING, pa.binary(): TK_BINARY,
    pa.date32(): TK_DATE,
}


def _orc_kind(t: pa.DataType) -> int:
    if t in _PA_SCALAR_TO_ORC:
        return _PA_SCALAR_TO_ORC[t]
    if pa.types.is_union(t):
        return TK_UNION
    if pa.types.is_timestamp(t):
        return TK_TIMESTAMP
    if pa.types.is_decimal(t):
        return TK_DECIMAL
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return TK_LIST
    if pa.types.is_map(t):
        return TK_MAP
    if pa.types.is_struct(t):
        return TK_STRUCT
    raise TypeError(f"orc_writer does not support column type {t}")


# ---------------------------------------------------------------------------
# type tree (flat preorder, root struct = column 0)
# ---------------------------------------------------------------------------

def _build_types(schema: pa.Schema):
    """-> list of (kind, subtypes, field_names, pa_type) in preorder."""
    types: list = []

    def add(t: pa.DataType) -> int:
        cid = len(types)
        kind = _orc_kind(t)
        entry = [kind, [], [], t]
        types.append(entry)
        if kind == TK_STRUCT:
            for i in range(t.num_fields):
                f = t.field(i)
                entry[2].append(f.name)
                entry[1].append(add(f.type))
        elif kind == TK_UNION:
            for i in range(t.num_fields):
                entry[1].append(add(t.field(i).type))
        elif kind == TK_LIST:
            entry[1].append(add(t.value_type))
        elif kind == TK_MAP:
            entry[1].append(add(t.key_type))
            entry[1].append(add(t.item_type))
        return cid

    root = [TK_STRUCT, [], [], None]
    types.append(root)
    for f in schema:
        root[2].append(f.name)
        root[1].append(add(f.type))
    return types


# ---------------------------------------------------------------------------
# column stream encoding (one stripe)
# ---------------------------------------------------------------------------

def _utc_to_writer_frame_us(us: np.ndarray, tz_name: str) -> np.ndarray:
    """Inverse of the reader's writer-timezone conversion: treat each UTC
    µs instant's wall clock as local time in `tz_name` and return the
    corresponding instant (what a Java/Hive writer in that session zone
    stores).  Resolved once per unique second; DST-ambiguous wall times
    take the fold=0 (pre-transition) reading, matching `chrono-tz`'s
    `.single()` default in `src/array_decoder/timestamp.rs:252-276`."""
    from datetime import datetime, timezone
    from zoneinfo import ZoneInfo
    tz = ZoneInfo(tz_name)
    secs = us // np.int64(1_000_000)
    uniq, inv = np.unique(secs, return_inverse=True)
    shift = np.array(
        [int(datetime.fromtimestamp(int(s), timezone.utc)
             .replace(tzinfo=tz).timestamp()) - int(s) for s in uniq],
        dtype=np.int64)
    return us + shift[inv] * np.int64(1_000_000)


def _encode_tree(arr: pa.Array, cid: int, types, out_streams, encodings,
                 writer_tz: str | None = None, force_present: bool = False,
                 no_dict: bool = False, defer_bits: bool = False) -> None:
    """Emit streams for column `cid` and recurse into children.

    ORC stores child values only for rows where the parent is present,
    so nested recursion filters by the parent's validity first."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    kind = types[cid][0]
    subtypes = types[cid][1]

    def recurse(child, sub):
        _encode_tree(child, sub, types, out_streams, encodings, writer_tz,
                     force_present, no_dict, defer_bits)

    if kind == TK_UNION:
        # ORC unions carry no PRESENT here (arrow unions have no
        # validity): a byte TAG stream + DENSE children (each child
        # holds only the rows of its tag, `union.rs:36-163`)
        if arr.type.mode != "sparse":
            raise TypeError("only sparse unions are supported")
        tags = np.asarray(arr.type_codes, dtype=np.int8)
        out_streams.append((cid, K_DATA, byte_rle_encode(tags)))
        for i, sub in enumerate(subtypes):
            # children keep force_present: row-index mode needs stream
            # sets identical across groups even when a child's nulls
            # appear in only some of them
            recurse(arr.field(i).filter(pa.array(tags == i)), sub)
        encodings[cid] = (ENC_DIRECT, 0)
        return
    validity, valid = split_validity(arr)
    if validity is None and force_present:
        validity = np.ones(len(arr), dtype=bool)
    if validity is not None:
        out_streams.append((cid, K_PRESENT,
                            ("__bits__", validity) if defer_bits
                            else boolean_encode(validity)))

    def ints(vals, signed=False):
        return rle_v2_encode(vals, signed=signed, interop=True)

    enc = ENC_DIRECT_V2
    if kind == TK_STRUCT:
        enc = ENC_DIRECT
        for i, sub in enumerate(subtypes):
            recurse(valid.field(i), sub)
    elif kind in (TK_LIST, TK_MAP):
        lengths, entries = list_parts(valid)
        out_streams.append((cid, K_LENGTH, ints(lengths)))
        if kind == TK_LIST:
            recurse(entries, subtypes[0])
        else:
            recurse(entries.field(0), subtypes[0])
            recurse(entries.field(1), subtypes[1])
    elif kind == TK_BOOL:
        enc = ENC_DIRECT
        vals = valid.to_numpy(zero_copy_only=False).astype(bool)
        out_streams.append((cid, K_DATA,
                            ("__bits__", vals) if defer_bits
                            else boolean_encode(vals)))
    elif kind == TK_BYTE:
        enc = ENC_DIRECT
        vals = valid.to_numpy(zero_copy_only=False).astype(np.int8)
        out_streams.append((cid, K_DATA, byte_rle_encode(vals)))
    elif kind in (TK_SHORT, TK_INT, TK_LONG, TK_DATE):
        if kind == TK_DATE:
            valid = valid.cast(pa.int32())
        vals = valid.cast(pa.int64()).to_numpy(zero_copy_only=False)
        out_streams.append((cid, K_DATA, ints(vals, signed=True)))
    elif kind in (TK_FLOAT, TK_DOUBLE):
        enc = ENC_DIRECT
        dt = np.float32 if kind == TK_FLOAT else np.float64
        vals = valid.to_numpy(zero_copy_only=False).astype(dt)
        out_streams.append((cid, K_DATA, float_encode(vals)))
    elif kind == TK_DECIMAL:
        data, sec = decimal_encode(decimal_mantissas(valid), valid.type.scale)
        out_streams.append((cid, K_DATA, data))
        out_streams.append((cid, K_SECONDARY, sec))
    elif kind == TK_TIMESTAMP:
        us = timestamp_us(valid)
        if writer_tz is not None:
            base_shift = (_writer_tz_base_seconds(writer_tz)
                          - ORC_TS_BASE_SECONDS) * 1_000_000
            us = _utc_to_writer_frame_us(us, writer_tz) - np.int64(base_shift)
        data, sec = timestamp_encode_us(us)
        out_streams.append((cid, K_DATA, data))
        out_streams.append((cid, K_SECONDARY, sec))
    elif kind == TK_STRING and not no_dict and dictionary_pays(valid):
        dict_blob, dict_lengths, indices = sorted_dictionary(valid)
        out_streams.append((cid, K_DATA, ints(indices)))
        out_streams.append((cid, K_LENGTH, ints(dict_lengths)))
        out_streams.append((cid, K_DICT_DATA, dict_blob))
        encodings[cid] = (ENC_DICT_V2, len(dict_lengths))
        return
    elif kind in (TK_STRING, TK_BINARY):
        blob, lengths = binary_parts(valid)
        out_streams.append((cid, K_DATA, blob))
        out_streams.append((cid, K_LENGTH, ints(lengths)))
    else:
        raise TypeError(f"unsupported ORC kind {kind}")
    encodings[cid] = (enc, 0)


class OrcWriter:
    """Streaming ORC writer: one stripe per `write_batch` call.

    With ``row_index_stride`` > 0 every stripe also carries ROW_INDEX
    streams (`src/row_index.rs:30-256` surface): per-`stride`-row-group
    stream positions plus per-group ColumnStatistics, enabling
    sub-stripe skipping by readers.  Encoders flush at group boundaries
    (each group's streams encoded independently and concatenated — a
    valid ORC encoding), so every position's in-run offsets are zero;
    dictionary encoding is disabled and PRESENT is always emitted so
    the stream set is identical across groups."""

    def __init__(self, path: str, schema: pa.Schema, compression: int = 0,
                 block_size: int = 256 * 1024,
                 writer_timezone: str = "UTC",
                 row_index_stride: int = 0,
                 bloom_columns: list[str] | None = None,
                 bloom_fpp: float = 0.05):
        self.types = _build_types(schema)  # validates types up front
        self.path = path
        self.schema = schema
        self.compression = compression
        self.block_size = block_size
        self.writer_timezone = writer_timezone
        self.row_index_stride = row_index_stride
        # BLOOM_FILTER_UTF8 streams (kind 8) for the named top-level
        # columns — per row group, standard Murmur3-64/Wang hashing
        # (kernels/bloom.py).  EXCEEDS the reference (bloom filters are
        # roadmap-only there, README.md:31-39).
        self.bloom_fpp = bloom_fpp
        self.bloom_cids: dict[int, int] = {}  # cid -> type kind
        if bloom_columns:
            if not row_index_stride:
                raise ValueError(
                    "bloom_columns requires row_index_stride > 0 "
                    "(bloom filters are per row group)")
            from .orc_format import (TK_BYTE, TK_SHORT, TK_INT, TK_LONG,
                                     TK_STRING, TK_VARCHAR, TK_CHAR)
            ok_kinds = (TK_BYTE, TK_SHORT, TK_INT, TK_LONG,
                        TK_STRING, TK_VARCHAR, TK_CHAR)
            names = [f.name for f in schema]
            for col in bloom_columns:
                if col not in names:
                    raise ValueError(f"bloom column {col!r} not in schema")
                cid = self.types[0][1][names.index(col)]
                kind = self.types[cid][0]
                if kind not in ok_kinds:
                    raise ValueError(
                        f"bloom column {col!r}: type kind {kind} has no "
                        "standard bloom hashing (int-family and string "
                        "columns only)")
                self.bloom_cids[cid] = kind
        # tz name must resolve NOW (a bad name failing at read time, or
        # only in external readers, would corrupt every stripe silently)
        if writer_timezone not in ("UTC", "GMT"):
            from zoneinfo import ZoneInfo
            ZoneInfo(writer_timezone)
        self._f = open(path, "wb")
        self._f.write(b"ORC")
        self._offset = 3
        self._stripes: list[tuple[int, int, int, int, int]] = []
        self._stripe_stats: list[dict[int, bytes]] = []
        self._n_rows = 0

    def _wrap(self, raw: bytes) -> bytes:
        if not self.compression:
            return raw
        return compress_stream(raw, self.compression, self.block_size)

    def _wrap_cuts(self, raw: bytes, cuts: list[int]):
        """Compress `raw` as independent chunk sequences split at the
        given byte offsets; returns (blob, {raw_offset: compressed
        offset}) so each cut is addressable as a compression-chunk
        start."""
        blob = bytearray()
        cmap: dict[int, int] = {0: 0}
        prev = 0
        for c in sorted(set(cuts)):
            if c > prev:
                blob += self._wrap(raw[prev:c])
                prev = c
            cmap[c] = len(blob)
        if prev < len(raw):
            blob += self._wrap(raw[prev:])
        return bytes(blob), cmap

    def write_batch(self, batch: pa.RecordBatch) -> None:
        if batch.num_rows == 0:
            return
        wtz = self.writer_timezone \
            if self.writer_timezone not in ("UTC", "GMT") else None
        stride = self.row_index_stride
        index_bytes = b""
        index_streams: list[tuple[int, int, bytes]] = []  # (cid, kind, blob)
        if not stride:
            streams: list[tuple[int, int, bytes]] = []
            encodings: dict[int, tuple[int, int]] = {0: (ENC_DIRECT, 0)}
            stats: dict[int, bytes] = {}
            for i, sub in enumerate(self.types[0][1]):
                col = batch.column(i)
                _encode_tree(col, sub, self.types, streams, encodings, wtz)
                stats[sub] = column_statistics(col)
            streams.sort(key=lambda s: (s[0], s[1]))
            wrapped = [(c, k, self._wrap(b)) for c, k, b in streams]
        else:
            # row-index path: every group's streams encoded (and, when
            # compressed, wrapped) independently, then concatenated —
            # positions are clean per-group byte offsets
            groups = [batch.slice(o, stride)
                      for o in range(0, batch.num_rows, stride)]
            encodings = {0: (ENC_DIRECT, 0)}
            per_group: list[list[tuple[int, int, object]]] = []
            top_stats: list[dict[int, bytes]] = []
            for g in groups:
                sg: list[tuple[int, int, object]] = []
                eg: dict[int, tuple[int, int]] = {0: (ENC_DIRECT, 0)}
                st: dict[int, bytes] = {}
                for i, sub in enumerate(self.types[0][1]):
                    col = g.column(i)
                    _encode_tree(col, sub, self.types, sg, eg, wtz,
                                 force_present=True, no_dict=True,
                                 defer_bits=True)
                    st[sub] = column_statistics(col)
                sg.sort(key=lambda x: (x[0], x[1]))
                per_group.append(sg)
                top_stats.append(st)
                encodings = eg
            keys = [(c, k) for c, k, _ in per_group[0]]
            for sg in per_group[1:]:
                assert [(c, k) for c, k, _ in sg] == keys, \
                    "row-index groups emitted differing stream sets"
            # per stream, the full position tuple of every group
            stream_pos: dict[tuple[int, int], list[list[int]]] = {}
            wrapped = []
            for ki, key in enumerate(keys):
                chunks = [sg[ki][2] for sg in per_group]
                extras = _pos_extras(self.types[key[0]][0], key[1])
                if chunks and isinstance(chunks[0], tuple):
                    # bit stream (PRESENT / bool DATA): ONE continuous
                    # bitstream with byte-RLE runs (and compression
                    # chunks) flushed at each group's byte boundary —
                    # bit-level group starts are addressed by the
                    # (values-into-run=0, bit offset) position entries
                    arrs = [c[1] for c in chunks]
                    bounds = []
                    acc = 0
                    for a in arrs[:-1]:
                        acc += len(a)
                        bounds.append(acc)
                    full = np.concatenate(arrs) if arrs else \
                        np.zeros(0, dtype=bool)
                    raw, marks = boolean_encode_with_marks(full, bounds)
                    if self.compression:
                        blob, cmap = self._wrap_cuts(
                            raw, [m[0] for m in marks])
                        pos = [[0, 0, 0, 0]] + [
                            [cmap[m[0]], 0, m[1], m[2]] for m in marks]
                    else:
                        blob = raw
                        pos = [[0, 0, 0]] + [list(m) for m in marks]
                else:
                    wchunks = [self._wrap(c) for c in chunks]
                    off = 0
                    pos = []
                    for ch in wchunks:
                        lead = [off, 0] if self.compression else [off]
                        pos.append(lead + [0] * extras)
                        off += len(ch)
                    blob = b"".join(wchunks)
                stream_pos[key] = pos
                wrapped.append((key[0], key[1], blob))
            stats = {sub: column_statistics(batch.column(i))
                     for i, sub in enumerate(self.types[0][1])}
            # RowIndex message per column: one entry per group with the
            # packed positions of each of its streams (in kind order)
            by_cid: dict[int, list[int]] = {}
            for c, k in keys:
                by_cid.setdefault(c, []).append(k)
            for cid in sorted(by_cid):
                kinds = sorted(by_cid[cid])
                ri = bytearray()
                for gi in range(len(groups)):
                    positions: list[int] = []
                    for k in kinds:
                        positions += stream_pos[(cid, k)][gi]
                    entry = bytearray()
                    packed = bytearray()
                    for pv in positions:
                        write_varint(packed, pv)
                    _pb_field_bytes(entry, 1, bytes(packed))
                    gst = top_stats[gi].get(cid)
                    if gst is not None:
                        _pb_field_bytes(entry, 2, gst)
                    _pb_field_bytes(ri, 1, bytes(entry))
                index_streams.append((cid, K_ROW_INDEX,
                                      self._wrap(bytes(ri))))
            # BLOOM_FILTER_UTF8 streams follow the ROW_INDEX streams in
            # the index region, one BloomFilterIndex per column with one
            # BloomFilter per row group
            if self.bloom_cids:
                from ..kernels.bloom import BloomFilter, hash_arrow_array
                from .orc_format import K_BLOOM_FILTER_UTF8
                top = self.types[0][1]
                for cid in sorted(self.bloom_cids):
                    kind = self.bloom_cids[cid]
                    i = top.index(cid)
                    bidx = bytearray()
                    for g in groups:
                        bf = BloomFilter.build(stride, self.bloom_fpp)
                        h = hash_arrow_array(g.column(i), kind)
                        if h is not None and len(h):
                            bf.add_hashes(h)
                        _pb_field_bytes(bidx, 1, bf.to_proto_bytes())
                    index_streams.append((cid, K_BLOOM_FILTER_UTF8,
                                          self._wrap(bytes(bidx))))
            index_bytes = b"".join(b for _, _, b in index_streams)
        self._stripe_stats.append(stats)

        foot = bytearray()
        data = bytearray()
        for cid, ikind, blob in index_streams:
            entry = bytearray()
            _pb_field_varint(entry, 1, ikind)
            _pb_field_varint(entry, 2, cid)
            _pb_field_varint(entry, 3, len(blob))
            _pb_field_bytes(foot, 1, bytes(entry))
        for cid, skind, s in wrapped:
            entry = bytearray()
            _pb_field_varint(entry, 1, skind)
            _pb_field_varint(entry, 2, cid)
            _pb_field_varint(entry, 3, len(s))
            _pb_field_bytes(foot, 1, bytes(entry))
            data += s
        for cid in range(len(self.types)):
            e, dict_size = encodings.get(cid, (ENC_DIRECT, 0))
            enc = bytearray()
            _pb_field_varint(enc, 1, e)
            if dict_size:
                _pb_field_varint(enc, 2, dict_size)
            _pb_field_bytes(foot, 2, bytes(enc))
        _pb_field_bytes(foot, 3,
                        self.writer_timezone.encode())  # writerTimezone
        foot_w = self._wrap(bytes(foot))

        self._f.write(index_bytes)
        self._f.write(data)
        self._f.write(foot_w)
        self._stripes.append((self._offset, len(index_bytes), len(data),
                              len(foot_w), batch.num_rows))
        self._offset += len(index_bytes) + len(data) + len(foot_w)
        self._n_rows += batch.num_rows

    def close(self) -> None:
        # Metadata section: per-stripe ColumnStatistics (positional by
        # column id) — what stripe-pruning readers evaluate predicates
        # against; empty stats rows keep the positions aligned
        metadata = bytearray()
        for stats in self._stripe_stats:
            ss = bytearray()
            for cid in range(len(self.types)):
                _pb_field_bytes(ss, 1, stats.get(cid, b""))
            _pb_field_bytes(metadata, 1, bytes(ss))
        metadata_w = self._wrap(bytes(metadata))
        self._f.write(metadata_w)

        footer = bytearray()
        _pb_field_varint(footer, 1, 3)  # headerLength ("ORC")
        _pb_field_varint(footer, 2, self._offset)  # contentLength
        for off, ilen, dlen, flen, rows in self._stripes:
            si = bytearray()
            _pb_field_varint(si, 1, off)
            _pb_field_varint(si, 2, ilen)
            _pb_field_varint(si, 3, dlen)
            _pb_field_varint(si, 4, flen)
            _pb_field_varint(si, 5, rows)
            _pb_field_bytes(footer, 3, bytes(si))
        for kind, subtypes, names, t in self.types:
            tmsg = bytearray()
            _pb_field_varint(tmsg, 1, kind)
            for s in subtypes:
                _pb_field_varint(tmsg, 2, s)
            for nm in names:
                _pb_field_bytes(tmsg, 3, nm.encode())
            if kind == TK_DECIMAL:
                _pb_field_varint(tmsg, 5, t.precision)
                _pb_field_varint(tmsg, 6, t.scale)
            _pb_field_bytes(footer, 4, bytes(tmsg))
        _pb_field_varint(footer, 6, self._n_rows)
        _pb_field_varint(footer, 8, self.row_index_stride)
        # softwareVersion (Footer field 12): identifies this writer;
        # Footer.writer stays absent (no registered code), so readers
        # treat the file as writerVersion-6-level — accurate, since the
        # streams and bloom hashing follow the modern spec exactly.
        # 0.5 marks the Java-consistent long hash; readers distrust the
        # blooms of 0.4 files (`OrcMeta.blooms_trusted`).  0.6 marks a
        # NaN max on every double unit that holds NaN; readers trust the
        # NaN-free max of 0.6 files (`OrcMeta.nan_in_max`)
        _pb_field_bytes(footer, 12, b"orc-rust-spark/0.6")
        footer_w = self._wrap(bytes(footer))
        self._f.write(footer_w)

        ps = bytearray()
        _pb_field_varint(ps, 1, len(footer_w))
        _pb_field_varint(ps, 2, self.compression)
        if self.compression:
            _pb_field_varint(ps, 3, self.block_size)
        _pb_field_bytes(ps, 4, bytes((0, 12)))  # version [0, 12] packed
        _pb_field_varint(ps, 5, len(metadata_w))  # metadataLength
        _pb_field_varint(ps, 6, 6)  # writerVersion: modern fix level
        _pb_field_bytes(ps, 8000, b"ORC")
        self._f.write(bytes(ps))
        self._f.write(bytes((len(ps),)))
        self._f.close()


def write_orc(path: str, table: pa.Table, compression: int = 0,
              stripe_rows: int = 65536,
              row_index_stride: int = 0,
              bloom_columns: list[str] | None = None,
              bloom_fpp: float = 0.05) -> None:
    """Write an Arrow table as a real ORC file (one stripe per
    ~stripe_rows; `row_index_stride` > 0 adds ROW_INDEX streams for
    sub-stripe skipping; `bloom_columns` adds BLOOM_FILTER_UTF8
    streams for equality-predicate row-group pruning)."""
    w = OrcWriter(path, table.schema, compression,
                  row_index_stride=row_index_stride,
                  bloom_columns=bloom_columns, bloom_fpp=bloom_fpp)
    for batch in table.combine_chunks().to_batches(max_chunksize=stripe_rows):
        w.write_batch(batch)
    w.close()
