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

Write path: a bare parquet scan of local files is read by pyarrow
inside the write tasks, as `parquet_arrow` does for the encode
pipeline: its row groups are packed into one contiguous run per slot
(`task_plan.slot_runs`), and each run streams into one `.orc` file,
with no trip through Spark's row format.  Any other DataFrame writes
one `.orc` file per Spark partition from a `mapInArrow`.  Both paths
cut stripes with the package's one stripe cut (`encode.cut_stripes`,
on one weight that folds the row and byte budgets), so under the row
budget the same rows give the same file, and each file emits a manifest row
(path, rows, bytes) — the same sink-with-lineage shape as the stripe
pipeline, so a writer failure leaves only uncommitted part files.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Iterator
from itertools import groupby
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
import pyspark.sql.types as T

from ..operators.decode import spark_schema_for
from ..operators.encode import cut_stripes
from .orc_reader import (arrow_schema, read_metadata, read_orc,
                         stripes_matching)
from .orc_writer import OrcWriter
from .parquet_arrow import list_fragments
from .predicate import Predicate, as_predicate
from .task_plan import map_units, read_units, slot_runs


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


# footer keys of files written by Spark in its legacy hybrid calendar;
# Spark rebases (or rejects) their dates and timestamps, pyarrow does not
_LEGACY_CALENDAR_KEYS = (b"org.apache.spark.legacyDateTime",
                         b"org.apache.spark.legacyINT96")


def _bare_parquet_files(df: DataFrame) -> list[str] | None:
    """The local files of `df` when it is a bare scan of parquet files
    that pyarrow reads to the same rows and types as Spark, else None.

    The plan must be a `LogicalRelation` over a parquet
    `HadoopFsRelation` with no partition columns, every scanned file a
    `file:` URI, every file's Arrow schema the DataFrame's schema, and
    no footer in Spark's legacy calendar.  A DataFrame without a JVM
    plan (Spark Connect) does not qualify."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return None
    plan = jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"
            or rel.partitionSchema().length()):
        return None
    files = []
    # the file index's list, not `df.inputFiles()`: a path given twice
    # is scanned twice, and `inputFiles()` drops the repeat
    for uri in rel.location().inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        files.append(unquote(u.path))
    for f in files:
        with pq.ParquetFile(f) as pf:
            footer = pf.metadata.metadata or {}
            if any(k in footer for k in _LEGACY_CALENDAR_KEYS):
                return None
            try:
                if spark_schema_for(pf.schema_arrow) != df.schema:
                    return None
            except TypeError:
                return None
    return sorted(files)


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
    """Write a DataFrame as `.orc` files; returns the manifest DataFrame
    of (path, n_rows, n_bytes) per file (materialize it to run the
    write).

    A bare parquet scan (`spark.read.parquet(...)` of local files that
    pyarrow reads to the DataFrame's own schema, see
    `_bare_parquet_files`) never goes through Spark's row path: the
    driver lists its row groups and packs them into one byte-balanced,
    contiguous run per slot, and each task streams its run's row groups
    with pyarrow into one `.orc` file.  Every other DataFrame writes one
    file per Spark partition from the batches of a `mapInArrow`.

    Both paths cut stripes the same way (`encode.cut_stripes`): a stripe
    ends after `stripe_rows` rows, or sooner at the row where a
    `stripe_bytes` (default 64 MiB, `src/arrow_writer.rs:111-122` /
    `src/memory.rs:18-23`) estimate reaches its budget, each row
    counting its input batch's Arrow bytes per row — so wide-schema
    rows cannot balloon a stripe past executor memory without the
    caller hand-sizing `stripe_rows`.  Under the row budget the same
    rows in one file give the same bytes on either path."""
    os.makedirs(out_dir, exist_ok=True)
    run_id = uuid.uuid4().hex[:8]

    def row_weight(batch: pa.RecordBatch) -> np.ndarray:
        # both budgets as one: against stripe_rows * stripe_bytes, a row
        # weighs stripe_bytes (the row budget) or its estimated bytes
        # times stripe_rows (the byte budget), whichever is larger
        per_row = -(-batch.nbytes * stripe_rows // batch.num_rows)
        return np.full(batch.num_rows, max(stripe_bytes, per_row), np.int64)

    def sink(batches: Iterator[pa.RecordBatch],
             part: int) -> Iterator[pa.RecordBatch]:
        path = os.path.join(out_dir, f"part-{part:05d}-{run_id}.orc")
        writer = None
        n = 0
        for stripe in cut_stripes(batches, stripe_rows * stripe_bytes,
                                  row_weight):
            if writer is None:
                writer = OrcWriter(path, stripe.schema, compression,
                                   row_index_stride=row_index_stride,
                                   bloom_columns=bloom_columns,
                                   bloom_fpp=bloom_fpp)
            writer.write_batch(stripe)
            n += stripe.num_rows
        if writer is None:
            return
        writer.close()
        yield pa.record_batch(
            [pa.array([path]), pa.array([n], pa.int64()),
             pa.array([os.path.getsize(path)], pa.int64())],
            names=["path", "n_rows", "n_bytes"])

    files = _bare_parquet_files(df)
    fragments = list_fragments(files) if files else []
    if not fragments:
        def sink_partition(batches):
            from pyspark import TaskContext
            ctx = TaskContext.get()
            yield from sink(batches, ctx.partitionId() if ctx else 0)

        return df.mapInArrow(sink_partition, ORC_MANIFEST_SCHEMA)

    # the batches Spark's mapInArrow would hand over: same types and
    # field names, every field nullable
    target = to_arrow_schema(df.schema)
    spark = df.sparkSession
    weights = [nbytes for _, _, nbytes in fragments]
    n = min(len(fragments), spark.sparkContext.defaultParallelism)
    runs = [fragments[a:b] for a, b in slot_runs(weights, n)]

    def write_run(i: int, run) -> Iterator[pa.RecordBatch]:
        def batches():
            for f, frags in groupby(run, key=lambda u: u[0]):
                rgs = [rg for _, ids, _ in frags for rg in ids]
                # decoded on this task's own slot: pyarrow's thread pool
                # would add a decode thread per core to every task, and
                # ~10 MB of peak worker RSS
                with pq.ParquetFile(f) as pf:
                    for b in pf.iter_batches(batch_size=stripe_rows,
                                             row_groups=rgs,
                                             use_threads=False):
                        yield b.cast(target)
        yield from sink(batches(), i)

    return map_units(spark, runs,
                     [sum(w for _, _, w in r) for r in runs],
                     write_run, ORC_MANIFEST_SCHEMA)


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
