"""Spark encode pass: token DataFrame -> stripe blobs + lineage manifest.

The analog of the reference's write path (`src/arrow_writer.rs:90-155`,
`src/writer/stripe.rs:82-171`): each task's rows are cut into stripes
where the running token count reaches the stripe budget (the reference
flushes at a 64 MiB memory estimate, `src/arrow_writer.rs:50-54,118-121`;
we budget by token count since int32 tokens dominate the payload).
That cut, `cut_stripes`, is the one stripe cut of the package: the
relation encoder (`relation.py`) cuts on rows with it, and the ORC
sink (`sources/orc_spark.py`) on rows and bytes.  Everything runs
inside ``mapInArrow`` — whole Arrow batches, no per-row Python — and
each task emits (manifest row + blob) rows, so the write needs no
further shuffle.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame
import pyspark.sql.types as T

from ..sources.orc_format import unit_stats
from ..stripes import CODEC_NAMES, ColumnPlan, encode_stripe, wrap_compressed

STRIPE_SCHEMA = T.StructType([
    T.StructField("stripe_id", T.StringType(), False),
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_tokens", T.LongType(), False),
    T.StructField("input_bytes", T.LongType(), False),
    T.StructField("output_bytes", T.LongType(), False),
    T.StructField("codecs", T.StringType(), False),
    T.StructField("checksum", T.StringType(), False),
    T.StructField("doc_id_min", T.StringType(), False),
    T.StructField("doc_id_max", T.StringType(), False),
    T.StructField("blob", T.BinaryType(), False),
])

MANIFEST_COLUMNS = [f.name for f in STRIPE_SCHEMA.fields if f.name != "blob"]

_STRIPE_PA_SCHEMA = pa.schema([
    ("stripe_id", pa.string()), ("part_id", pa.int32()), ("seq", pa.int32()),
    ("n_rows", pa.int64()), ("n_tokens", pa.int64()),
    ("input_bytes", pa.int64()), ("output_bytes", pa.int64()),
    ("codecs", pa.string()), ("checksum", pa.string()),
    ("doc_id_min", pa.string()), ("doc_id_max", pa.string()),
    ("blob", pa.binary()),
])


def _stripe_row(batch: pa.RecordBatch, part_id: int, seq: int,
                plans: dict[str, ColumnPlan] | None,
                block_compression: int = 0) -> dict:
    blob = encode_stripe(batch, plans)
    if block_compression:
        blob = wrap_compressed(blob, block_compression)
    n_tokens = int(pa.compute.sum(
        pa.compute.list_value_length(batch.column("tokens"))).as_py() or 0)
    doc_ids = unit_stats(batch.column("doc_id"))
    codecs = _codecs_of(blob)
    return {
        "stripe_id": f"s{part_id:06d}-{seq:05d}",
        "part_id": part_id,
        "seq": seq,
        "n_rows": batch.num_rows,
        "n_tokens": n_tokens,
        "input_bytes": batch.nbytes,
        "output_bytes": len(blob),
        "codecs": codecs,
        "checksum": hashlib.sha256(blob).hexdigest(),
        "doc_id_min": str(doc_ids.min),
        "doc_id_max": str(doc_ids.max),
        "blob": blob,
    }


def _codecs_of(blob: bytes) -> str:
    # parse our own header for lineage (cheap: header only).  For a
    # block-compressed stripe, decompress just the first chunk — the
    # header always fits in one 256 KiB block
    from ..stripes import MAGIC, MAGIC_COMPRESSED
    from ..kernels.util import read_varint
    if blob[:4] == MAGIC_COMPRESSED:
        from ..kernels.compression import _decompress_one
        kind = blob[4]
        header = int.from_bytes(blob[5:8], "little")
        body = blob[8: 8 + (header >> 1)]
        blob = body if header & 1 else _decompress_one(kind, body)
    buf = memoryview(blob)
    pos = 4
    _, pos = read_varint(buf, pos)
    n_cols, pos = read_varint(buf, pos)
    codecs = {}
    for i in range(n_cols):
        ln, pos = read_varint(buf, pos)
        name = bytes(buf[pos : pos + ln]).decode()
        pos += ln
        codec = buf[pos + 2]
        pos += 3
        _, pos = read_varint(buf, pos)
        # nested children may share names ("item"); qualify duplicates
        key = name if name not in codecs else f"{name}#{i}"
        codecs[key] = CODEC_NAMES.get(codec, str(codec))
    return json.dumps(codecs, sort_keys=True)


def cut_stripes(batches: Iterator[pa.RecordBatch], budget: int,
                weight: Callable[[pa.RecordBatch], np.ndarray] | None = None
                ) -> Iterator[pa.RecordBatch]:
    """Cut `batches` into stripes: a stripe ends at the first row where
    its running weight reaches `budget`.  A row weighs 1 when `weight`
    is None, else `weight(batch)` gives each row's weight (>= 0).  Rows
    past a cut carry over as zero-copy slices, a stripe is copied only
    when it spans several input batches, and the input's last rows make
    the last stripe.  With row-only weights the stripes depend on the
    rows alone, not on how the input was batched.  The one stripe cut
    of every writer, the analog of `ArrowWriter`'s flush at its memory
    budget (`src/arrow_writer.rs:111-122`)."""
    pending: list[pa.RecordBatch] = []
    carried = 0
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        w = np.ones(n, np.int64) if weight is None else weight(batch)
        run = np.cumsum(w, dtype=np.int64) + carried
        start = base = 0
        while True:
            end = start + int(np.searchsorted(run[start:], base + budget))
            if end >= n:
                break
            pending.append(batch.slice(start, end + 1 - start))
            yield _join(pending)
            pending = []
            base, start = int(run[end]), end + 1
        if start < n:
            pending.append(batch.slice(start))
        carried = int(run[-1]) - base
    if pending:
        yield _join(pending)


def _join(pieces: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(pieces) == 1:
        return pieces[0]
    return pa.Table.from_batches(pieces).combine_chunks().to_batches()[0]


def encode_batches(batches: Iterator[pa.RecordBatch], part_id: int,
                   stripe_tokens: int = 1 << 21,
                   plans: dict[str, ColumnPlan] | None = None,
                   block_compression: int = 0) -> Iterator[pa.RecordBatch]:
    """Pure-Arrow encode generator: cuts batches at the stripe token
    budget (`cut_stripes` weighted by `n_tok`), emits one (manifest +
    blob) row per stripe.  Shared by the DataFrame operator below and
    the fused parquet scan+encode pipeline (sources/parquet_arrow.py) —
    fusing matters because chaining two Python stages forces an
    Arrow->UnsafeRow->Arrow round-trip of the token arrays through the
    JVM, which costs more than encoding does."""
    stripes = cut_stripes(batches, stripe_tokens, lambda b: b.column(
        "n_tok").to_numpy(zero_copy_only=False).astype(np.int64))
    for seq, stripe in enumerate(stripes):
        row = _stripe_row(stripe, part_id, seq, plans, block_compression)
        yield pa.RecordBatch.from_pylist([row], schema=_STRIPE_PA_SCHEMA)


def encode_pass(df: DataFrame, stripe_tokens: int = 1 << 21,
                plans: dict[str, ColumnPlan] | None = None,
                block_compression: int = 0) -> DataFrame:
    """Encode a token DataFrame into stripe rows.  Input partitioning is
    respected: one task encodes its partition into >=1 stripes."""

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        yield from encode_batches(batches, part_id, stripe_tokens, plans,
                                  block_compression)

    return df.mapInArrow(encode_partition, STRIPE_SCHEMA)
