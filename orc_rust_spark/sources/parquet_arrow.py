"""Arrow-native parquet source: Spark schedules, pyarrow reads.

Spark's JVM parquet reader materializes nested `array<int>` columns
row-wise and re-serializes them to Arrow for every Python stage — for
token tables this costs more than the codec work itself (measured ~50x
slower than a direct pyarrow read of the same files).  This source keeps
the data path Arrow end-to-end: the driver lists (file, row-group)
fragments, and each Spark task reads its fragments' row groups with
pyarrow directly — column projection and row-group pruning happen in
the worker, mirroring how the reference fetches only projected streams
per stripe (`src/stripe.rs:154-165`).

This is the intended scan operator for the encode pipeline at scale.
Fragments are packed by `task_plan.map_units` into one byte-balanced,
contiguous run per slot, so a job starts one Python task per slot
rather than one per fragment, and parallelism follows the slot count,
not `spark.sql.files.maxPartitionBytes`.  A read of at most
`task_plan.LOCAL_READ_BYTES` row-group bytes (`task_plan.read_units`)
runs in the driver instead, up to `task_plan.LOCAL_ARROW_BYTES` of
Arrow.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..operators.decode import spark_schema_for
from .task_plan import map_units, read_units


def list_fragments(path: str | list[str], row_groups_per_task: int = 1
                   ) -> list[tuple[str, list[int], int]]:
    """(file, row-group ids, uncompressed bytes) work units for parquet
    dir/file(s), `row_groups_per_task` row groups each, in file order."""
    dataset = pads.dataset(path, format="parquet")
    units: list[tuple[str, list[int], int]] = []
    for frag in dataset.get_fragments():
        rgs = frag.row_groups
        for i in range(0, len(rgs), row_groups_per_task):
            run = rgs[i: i + row_groups_per_task]
            units.append((frag.path, [rg.id for rg in run],
                          sum(rg.total_byte_size for rg in run)))
    return units


def _fragments(path: str, row_groups_per_task: int):
    units = list_fragments(path, row_groups_per_task)
    if not units:
        raise ValueError(f"no parquet fragments under {path}")
    return units, [nbytes for _, _, nbytes in units]


def read_parquet_arrow(spark: SparkSession, path: str,
                       columns: list[str] | None = None,
                       row_groups_per_task: int = 1) -> DataFrame:
    """Distributed pyarrow scan returning a DataFrame; each fragment's
    whole row groups (the stripe analog) are read straight into Arrow.
    Row groups of at most `task_plan.LOCAL_READ_BYTES` in total are
    read by the driver during this call (unless they pass
    `task_plan.LOCAL_ARROW_BYTES` of Arrow), so a read error raises
    here; larger scans read in Spark tasks at the first action."""
    units, weights = _fragments(path, row_groups_per_task)
    schema = pq.read_schema(units[0][0])
    if columns is not None:
        schema = pa.schema([schema.field(c) for c in columns])

    def scan(i: int, unit) -> Iterator[pa.RecordBatch]:
        f, rgs, _ = unit
        yield from pq.ParquetFile(f).read_row_groups(
            rgs, columns=columns).to_batches()

    return read_units(spark, units, weights, scan, spark_schema_for(schema))


def scan_encode_parquet(spark: SparkSession, path: str,
                        stripe_tokens: int = 1 << 21,
                        plans=None, block_compression: int = 0,
                        row_groups_per_task: int = 1) -> DataFrame:
    """Fused scan+encode: each fragment's row groups are read with
    pyarrow and encoded into stripes in the same Python process — one
    Python stage, zero JVM row-format round-trips for the token arrays.

    Every fragment is its own `encode_batches` stream with `part_id` =
    its index in `list_fragments` order, so the stripes (ids, blobs,
    manifests) depend on the corpus and `row_groups_per_task` only,
    never on how many slots the session has."""
    from ..operators.encode import STRIPE_SCHEMA, encode_batches

    units, weights = _fragments(path, row_groups_per_task)

    def scan_encode(i: int, unit) -> Iterator[pa.RecordBatch]:
        f, rgs, _ = unit
        tbl = pq.ParquetFile(f).read_row_groups(rgs)
        yield from encode_batches(iter(tbl.to_batches()), i, stripe_tokens,
                                  plans, block_compression)

    return map_units(spark, units, weights, scan_encode, STRIPE_SCHEMA)
