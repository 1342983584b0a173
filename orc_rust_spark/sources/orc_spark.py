"""Distributed ORC source/sink on Spark: the reference's
`ArrowReader`/`ArrowWriter` surface exposed as DataFrame operators,
backed by the kernel-level `orc_reader.py` / `orc_writer.py`.

Read path: files are listed on the driver (cheap metadata-only tail
parse) and split into (file, stripe subset) byte-range units, planned
by the same `task_plan.read_units` as the parquet scan: a read of at
most `task_plan.LOCAL_READ_BYTES` stripe bytes decodes in the driver
(up to `task_plan.LOCAL_ARROW_BYTES` of Arrow), and a larger one is packed into one byte-balanced, contiguous run per
slot, each task decoding its units to Arrow inside the worker — no JVM
ORC dependency, no row-format round-trip.

Write path: each partition writes one `.orc` file (one stripe per
Arrow batch group) and emits a manifest row (path, rows, bytes) — the
same sink-with-lineage shape as the stripe pipeline, so a writer
failure leaves only uncommitted part files.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

from ..operators.decode import spark_schema_for
from .orc_reader import (arrow_schema, read_metadata, read_orc,
                         stripes_matching)
from .orc_writer import OrcWriter
from .predicate import Predicate, as_predicate
from .task_plan import read_units


def _plan_orc_file(f: str, predicate, split_bytes: int):
    """One file's plan: (total rows, [(stripe ids, bytes) chunks of
    ~split_bytes]) with predicate-pruned stripes dropped.  Pure function
    of the file tail — runs on the driver for small datasets and inside
    a planning job for large ones."""
    meta = read_metadata(f)
    n_file = sum(s["n_rows"] for s in meta.stripes)
    want = set(stripes_matching(meta, predicate))
    chunks: list[tuple[list[int], int]] = []
    cur: list[int] = []
    cur_bytes = 0
    for i, s in enumerate(meta.stripes):
        if i not in want:
            continue
        cur.append(i)
        cur_bytes += (s["index_length"] + s["data_length"]
                      + s["footer_length"])
        if cur_bytes >= split_bytes:
            chunks.append((cur, cur_bytes))
            cur, cur_bytes = [], 0
    if cur or not meta.stripes:
        chunks.append((cur, cur_bytes))
    return n_file, chunks


def read_orc_spark(spark: SparkSession, path: str,
                   columns: list[str] | None = None,
                   predicate: Predicate | dict[str, tuple] | None = None,
                   split_bytes: int = 32 << 20,
                   row_selection=None,
                   timestamp_precision: str = "us") -> DataFrame:
    """Distributed read of a dir of `.orc` files (or a single file).

    `columns` projects into the stripes (unread columns' streams are
    never decoded); `predicate` (a `Predicate` or {col: (lo, hi)})
    prunes whole stripes against the files' statistics sections before
    any stream bytes are touched — conservative, so follow with an
    exact `.filter`.

    `row_selection` is a `RowSelection` over the DATASET's rows in
    (sorted-file, stripe) order — the fork's exact skip/select feature
    (`src/row_selection.rs`) lifted to the distributed scan: the driver
    splits the selection per file during planning (selector runs, not
    rows — O(#ranges) metadata), every task slices its own file's
    selection, and stripes/row-groups proven empty are skipped without
    touching their bytes.  The result contains exactly the selected
    rows.

    `timestamp_precision` ('us' default — Spark's timestamp domain —
    or 'ms'|'s'|'decimal' = lossless Decimal128(38,9) seconds.nanos,
    the reference's `with_timestamp_precision` surface): sub-unit
    values written by foreign writers ERROR with a clear message
    instead of silently truncating (`src/encoding/timestamp.rs:170-177`
    policy); far-past/future instants that overflow int64 µs read
    exactly via 'decimal'.

    Work units are (file, stripe subset) byte-range splits of
    ~`split_bytes` (`src/arrow_reader.rs:357-372`): one big multi-stripe
    file fans out to many units instead of capping parallelism at the
    file count, and the units are packed onto one Spark task per slot.
    Planning cost is one TAIL read per file on the driver (no stripe
    bytes); each unit then reads only its own stripes' byte range.
    When the kept stripes hold at most `task_plan.LOCAL_READ_BYTES` the
    driver decodes them during this call (going to Spark tasks instead
    once they pass `task_plan.LOCAL_ARROW_BYTES` of Arrow), so a decode
    error (a corrupt stripe, a lossy timestamp) raises here rather than
    at the first action."""
    files = sorted(glob.glob(os.path.join(path, "*.orc"))) \
        if os.path.isdir(path) else [path]
    if not files:
        raise ValueError(f"no .orc files under {path}")
    if timestamp_precision not in ("us", "ms", "s", "decimal"):
        raise ValueError(
            "timestamp_precision must be one of ('us', 'ms', 's', "
            f"'decimal') on the Spark surface, got {timestamp_precision!r}"
            " (Spark has no nanosecond timestamp type; 'decimal' is the"
            " lossless representation)")
    predicate = as_predicate(predicate)
    probe_schema = arrow_schema(read_metadata(files[0]), columns,
                                timestamp_precision)
    out_schema = spark_schema_for(_normalize_schema(probe_schema))

    sel_rest = None
    if row_selection is not None:
        from .row_selection import RowSelection
        sel_rest = RowSelection(list(row_selection.selectors))

    # per-file planning: tail parse + planning-time stripe pruning (the
    # tail's per-stripe statistics are already in hand, so provably-
    # empty stripes never become or join units — a selective predicate
    # over a huge dataset schedules only the stripes that may match,
    # instead of fanning out no-op work cluster-wide), then byte-range
    # chunking into ~split_bytes work units
    if sel_rest is None and len(files) >= 64:
        # many files: the tail reads themselves are the planning
        # bottleneck (one driver round-trip per file at 100k-file
        # scale), so fan planning out as a tiny metadata job of at
        # least 32 files per task and at most one task per slot — each
        # result is O(#chunks) ints, the collect stays bounded
        sc = spark.sparkContext
        slices = min(len(files) // 32, sc.defaultParallelism)
        planned = sc.parallelize(files, slices).map(
            lambda f, _p=predicate, _b=split_bytes:
            _plan_orc_file(f, _p, _b)).collect()
    else:
        planned = [_plan_orc_file(f, predicate, split_bytes)
                   for f in files]

    units: list[tuple[str, list[int], list[tuple[int, bool]] | None]] = []
    weights: list[int] = []
    for f, (n_file, chunks) in zip(files, planned):
        fsel = None
        if sel_rest is not None:
            fs = sel_rest.split_off(n_file)
            if fs.row_count() != n_file:
                raise ValueError(
                    "row_selection shorter than the dataset "
                    f"(exhausted inside {f})")
            fsel = [(s.row_count, s.skip) for s in fs.selectors]
        for ids, nbytes in chunks:
            units.append((f, ids, fsel))
            weights.append(nbytes)
    if sel_rest is not None and sel_rest.row_count():
        raise ValueError(
            f"row_selection covers {row_selection.row_count()} rows, "
            f"dataset has {row_selection.row_count() - sel_rest.row_count()}")

    def scan(i: int, unit) -> Iterator[pa.RecordBatch]:
        from .row_selection import RowSelection, RowSelector
        f, ids, fsel = unit
        sel = RowSelection([RowSelector(n, k) for n, k in fsel]) \
            if fsel is not None else None
        tbl = _normalize(read_orc(
            f, columns=columns, predicate=predicate,
            stripe_indices=ids, row_selection=sel,
            timestamp_precision=timestamp_precision))
        yield from tbl.to_batches()

    return read_units(spark, units, weights, scan, out_schema)


def _to_us(t: pa.DataType) -> pa.DataType:
    """Spark's Arrow bridge wants µs timestamps, so 'ms'/'s' reads
    (already checked for loss at that unit by the decoder) widen to µs.
    Recurses through struct/list/map so nested timestamps match the
    mapInArrow schema too."""
    if pa.types.is_timestamp(t) and t.unit != "us":
        return pa.timestamp("us")
    if pa.types.is_list(t):
        return pa.list_(_to_us(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_to_us(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_to_us(t.key_type), _to_us(t.item_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _to_us(f.type), f.nullable)
                          for f in t])
    return t


def _normalize_schema(schema: pa.Schema) -> pa.Schema:
    return pa.schema([pa.field(f.name, _to_us(f.type), f.nullable)
                      for f in schema])


def _normalize(tbl: pa.Table) -> pa.Table:
    target = _normalize_schema(tbl.schema)
    return tbl.cast(target) if target != tbl.schema else tbl


ORC_MANIFEST_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
])


def write_orc_spark(df: DataFrame, out_dir: str, compression: int = 1,
                    stripe_rows: int = 65536,
                    row_index_stride: int = 0,
                    stripe_bytes: int = 64 << 20,
                    bloom_columns: list[str] | None = None,
                    bloom_fpp: float = 0.05) -> DataFrame:
    """Write a DataFrame as one `.orc` file per partition; returns the
    manifest DataFrame (materialize it to run the write).

    Stripes flush at whichever of two budgets hits first: `stripe_rows`
    or a `stripe_bytes` (default 64 MiB, `src/arrow_writer.rs:111-122`
    / `src/memory.rs:18-23`) estimate from the Arrow buffer sizes — so
    wide-schema rows cannot balloon a stripe past executor memory
    without the caller hand-sizing `stripe_rows`."""
    os.makedirs(out_dir, exist_ok=True)
    run_id = uuid.uuid4().hex[:8]

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        writer = None
        path = os.path.join(out_dir, f"part-{pid:05d}-{run_id}.orc")
        n = 0
        pending: list[pa.RecordBatch] = []
        pending_rows = 0
        pending_bytes = 0

        def flush():
            nonlocal pending, pending_rows, pending_bytes
            tbl = pa.Table.from_batches(pending).combine_chunks()
            chunk = stripe_rows
            if pending_bytes > 0 and pending_rows > 0:
                rows_by_bytes = max(
                    (stripe_bytes * pending_rows) // pending_bytes, 1)
                chunk = min(stripe_rows, int(rows_by_bytes))
            for b in tbl.to_batches(max_chunksize=chunk):
                writer.write_batch(b)
            pending, pending_rows, pending_bytes = [], 0, 0

        for b in batches:
            if b.num_rows == 0:
                continue
            if writer is None:
                writer = OrcWriter(path, b.schema, compression,
                                   row_index_stride=row_index_stride,
                                   bloom_columns=bloom_columns,
                                   bloom_fpp=bloom_fpp)
            pending.append(b)
            pending_rows += b.num_rows
            pending_bytes += b.nbytes
            n += b.num_rows
            if pending_rows >= stripe_rows or pending_bytes >= stripe_bytes:
                flush()
        if writer is None:
            return
        if pending:
            flush()
        writer.close()
        yield pa.record_batch(
            [pa.array([path]), pa.array([n], pa.int64()),
             pa.array([os.path.getsize(path)], pa.int64())],
            names=["path", "n_rows", "n_bytes"])

    return df.mapInArrow(sink, ORC_MANIFEST_SCHEMA)


def orc_file_stats(path: str) -> dict:
    """Driver-side metadata summary of an `.orc` file (tail parse only —
    the `orc-metadata` CLI analog)."""
    meta = read_metadata(path)
    return {
        "compression": meta.compression,
        "n_stripes": len(meta.stripes),
        "n_rows": sum(s["n_rows"] for s in meta.stripes),
        "columns": meta.field_names,
        "stripe_rows": [s["n_rows"] for s in meta.stripes],
    }
