"""Generic relation <-> stripes: encode ANY supported Spark DataFrame
through the columnar engine and decode it back.

This is the engine's general-purpose sink/source pair — the analog of
the reference's `ArrowWriter`/`ArrowReader` over arbitrary schemas
(`src/arrow_writer.rs:90-155`, `src/arrow_reader.rs:233-347`), not just
the token table.  Everything runs in ``mapInArrow`` (whole Arrow
batches, zero per-row Python); one task cuts its partition into stripes
of the row budget with the package's one stripe cut
(`encode.cut_stripes`) and emits (manifest columns + blob) rows.

Used by the correctness gate: every `/root/testdata` table round-trips
through ``roundtrip_relation`` and is compared value-by-value against a
DuckDB identity query.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame
import pyspark.sql.types as T

from ..stripes import ColumnPlan, encode_stripe
from .decode import decode_pass
from .encode import cut_stripes

RELATION_STRIPE_SCHEMA = T.StructType([
    T.StructField("stripe_id", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("input_bytes", T.LongType(), False),
    T.StructField("output_bytes", T.LongType(), False),
    T.StructField("blob", T.BinaryType(), False),
])

_RELATION_PA_SCHEMA = pa.schema([
    ("stripe_id", pa.string()), ("n_rows", pa.int64()),
    ("input_bytes", pa.int64()), ("output_bytes", pa.int64()),
    ("blob", pa.binary()),
])


def encode_relation(df: DataFrame, stripe_rows: int = 65536,
                    plans: dict[str, ColumnPlan] | None = None) -> DataFrame:
    """Encode an arbitrary DataFrame into stripe rows: one blob per
    `stripe_rows` input rows of each partition (`cut_stripes`), the
    partition's last stripe holding the rest."""

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        for seq, batch in enumerate(cut_stripes(batches, stripe_rows)):
            blob = encode_stripe(batch, plans)
            yield pa.RecordBatch.from_pylist([{
                "stripe_id": f"r{part_id:06d}-{seq:05d}",
                "n_rows": batch.num_rows,
                "input_bytes": batch.nbytes,
                "output_bytes": len(blob),
                "blob": blob,
            }], schema=_RELATION_PA_SCHEMA)

    return df.mapInArrow(encode_partition, RELATION_STRIPE_SCHEMA)


def roundtrip_relation(df: DataFrame, stripe_rows: int = 65536,
                       columns: list[str] | None = None,
                       plans: dict[str, ColumnPlan] | None = None) -> DataFrame:
    """encode -> decode in a single lazy plan; the correctness-gate shape.

    The output schema equals the input schema (all-nullable), projected
    to `columns` when given.
    """
    fields = [T.StructField(f.name, f.dataType, True) for f in df.schema.fields
              if columns is None or f.name in columns]
    return decode_pass(encode_relation(df, stripe_rows, plans),
                       T.StructType(fields), columns)
