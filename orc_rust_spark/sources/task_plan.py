"""Task plan for the Arrow sources: one Spark task per slot, or none.

Every Python task Spark starts pays a fixed worker set-up before its
UDF sees a row.  On pyspark 4.1 with Python < 3.13 most of it is
``worker_util.setup_spark_files`` → ``importlib.invalidate_caches()``,
which makes each of the worker's 16 zip importers re-parse its
archive's central directory: 12 over pyspark.zip (1,328 entries), 2
over the 5,359-entry spark-core jar and 2 over the py4j zip, 0.14-0.19 s
of CPU per task.  ``orc_rust_spark.worker_init.guard_zip_invalidation``
(installed when a task first imports the package) makes those re-reads
happen only when an archive changed.  On a 4-vCPU VM (local[4],
Python 3.11) a no-op ``mapInArrow`` over ``spark.range`` that imports
the package takes 0.13 s over 1 partition and 0.15 s over 4 (medians
of 10; 0.30 s and 0.37 s unguarded).

Fewer tasks still cost less: the first task on each fresh worker runs
unguarded, and every task unpickles its closure and pays Spark's
scheduling and Arrow-stream set-up.

So the driver lists the work units (parquet fragments, ORC stripe
chunks, synthesis parts) and this module packs them into
``min(units, defaultParallelism)`` contiguous, weight-balanced runs.
The plan is ``spark.range(n, numPartitions=n)`` — a JVM-side source, so
building it starts no Python task and adds no sampling job or shuffle
— and the unit descriptions ride in the UDF closure (pyspark broadcasts
a pickled command over 1 MB).  Partition ``k`` runs its units in order,
each through ``fn(unit_index, unit)``, so what a unit produces depends
on its index only, never on the slot count.

The cheapest task is none.  A read whose planned units hold at most
``LOCAL_READ_BYTES`` stored bytes (``read_units``) runs ``fn`` over the
units in the driver and hands the Arrow result to
``spark.createDataFrame``, a local relation with no Python node in its
plan.  Stored bytes do not bound the decoded size (a stripe of repeated
values stores in a few bytes per thousand rows), so the driver also
counts the decoded bytes and, once they pass ``LOCAL_ARROW_BYTES``,
drops what it decoded and plans the read with ``map_units`` after all:
it holds at most that much Arrow plus the one batch that crossed it.
Each unit's own read (a stripe store row group's ``blob`` column, an
ORC stripe range) is the same on both paths.  On the full-scale
benchmark stores (seed 101) ``tokens`` lookups plan 1-2 stripes of
0.21-0.45 MB stored that decode, projected, to 14-37 KB, and
``lineitem_orc`` lookups 1-3 stripes of 0.08-0.77 MB stored that
decode to 0.44-1.49 MB, while every full read is far above 1 MiB
stored (the 7.1 MB tokens store, the 5.4 MB lineitem ORC scan), so
scans keep one task per slot.  The benchmark's ``tokens``
``lookup_p50_ms`` fell from 149 ms to 88 ms this way (medians of 10
runs each, local[4] on a 4-vCPU VM).  Decoding such a read is eager: a
corrupt unit raises from the call that builds the DataFrame, not from
the first action on it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import TypeVar

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
import pyspark.sql.types as T

U = TypeVar("U")

# a read planned at or below this many stored bytes decodes in the
# driver, unless its decoded batches pass LOCAL_ARROW_BYTES
LOCAL_READ_BYTES = 1 << 20
LOCAL_ARROW_BYTES = 4 << 20

# SPARK-48302: before pyarrow 17, createDataFrame rebuilds a map whose
# keys or items are nested or timestamps with pa.MapArray.from_arrays
# and no mask, so a null map comes back as an empty map; such schemas
# always take map_units
_REBUILT_MAP_PARTS = (T.ArrayType, T.MapType, T.StructType,
                      T.TimestampType, T.TimestampNTZType)


def slot_runs(weights: Sequence[int], n: int) -> list[tuple[int, int]]:
    """Split unit indices ``0..len(weights)`` into ``n`` non-empty
    contiguous ``[start, stop)`` runs of about equal total weight: unit
    ``i`` goes to the run its weight midpoint falls in, clamped so that
    no run is empty.  All-zero weights split by unit count."""
    w = np.asarray(weights, dtype=np.float64)
    if w.sum() <= 0:
        w = np.ones(len(w))
    total = w.sum()
    mid = np.cumsum(w) - w / 2
    cuts = [0]
    for k in range(1, n):
        c = int(np.searchsorted(mid, k * total / n))
        cuts.append(min(max(c, cuts[-1] + 1), len(w) - (n - k)))
    cuts.append(len(w))
    return list(zip(cuts[:-1], cuts[1:]))


def map_units(spark: SparkSession, units: Sequence[U],
              weights: Sequence[int],
              fn: Callable[[int, U], Iterator[pa.RecordBatch]],
              schema: T.StructType) -> DataFrame:
    """DataFrame of every unit's ``fn(i, units[i])`` batches, computed
    on ``min(len(units), defaultParallelism)`` Spark tasks, each running
    one contiguous run of units balanced by ``weights`` (bytes, rows —
    any measure of a unit's work)."""
    if not units:
        raise ValueError("no work units to plan")
    n = min(len(units), spark.sparkContext.defaultParallelism)
    runs = slot_runs(weights, n)

    def run_slot(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for slot in b.column("id").to_pylist():
                start, stop = runs[slot]
                for i in range(start, stop):
                    yield from fn(i, units[i])

    return spark.range(n, numPartitions=n).mapInArrow(run_slot, schema)


def _has_rebuilt_map(t: T.DataType) -> bool:
    """True if ``t`` holds a map that createDataFrame rebuilds."""
    if isinstance(t, T.MapType):
        return isinstance(t.keyType, _REBUILT_MAP_PARTS) \
            or isinstance(t.valueType, _REBUILT_MAP_PARTS)
    if isinstance(t, T.ArrayType):
        return _has_rebuilt_map(t.elementType)
    if isinstance(t, T.StructType):
        return any(_has_rebuilt_map(f.dataType) for f in t.fields)
    return False


def _decode_local(units: Sequence[U],
                  fn: Callable[[int, U], Iterator[pa.RecordBatch]],
                  target: pa.Schema) -> list[pa.RecordBatch] | None:
    """Every unit's batches cast to ``target``, in unit order, or None
    as soon as they pass ``LOCAL_ARROW_BYTES``."""
    out: list[pa.RecordBatch] = []
    held = 0
    for i, u in enumerate(units):
        for b in fn(i, u):
            held += b.nbytes
            if held > LOCAL_ARROW_BYTES:
                return None
            out.append(b.cast(target))
    return out


def read_units(spark: SparkSession, units: Sequence[U],
               weights: Sequence[int],
               fn: Callable[[int, U], Iterator[pa.RecordBatch]],
               schema: T.StructType) -> DataFrame:
    """``map_units`` for reads whose ``weights`` are stored bytes.  A
    plan of at most ``LOCAL_READ_BYTES`` runs ``fn`` over the units in
    the driver, in unit order, and returns a local relation: no Python
    task starts, and a decode error raises from this call.  No units
    give an empty local relation.  Larger plans, plans whose decoded
    batches pass ``LOCAL_ARROW_BYTES``, and schemas whose maps
    createDataFrame would corrupt go through ``map_units``."""
    if units and (sum(weights) > LOCAL_READ_BYTES
                  or _has_rebuilt_map(schema)):
        return map_units(spark, units, weights, fn, schema)
    # createDataFrame reads a naive timestamp as session-local time,
    # mapInArrow as UTC; typed tz=UTC here, it passes through unchanged
    target = to_arrow_schema(schema)
    batches = _decode_local(units, fn, target)
    if batches is None:
        return map_units(spark, units, weights, fn, schema)
    return spark.createDataFrame(
        pa.Table.from_batches(batches, schema=target), schema)
