"""Task plan for the Arrow sources: one Spark task per slot.

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
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import TypeVar

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

U = TypeVar("U")


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
