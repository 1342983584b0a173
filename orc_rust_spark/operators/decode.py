"""Spark decode pass: stripe blobs -> original rows.

Analog of the reference read path (`src/arrow_reader.rs:233-347`):
each task decodes whole stripes to Arrow batches.  Column projection
reaches into the stripe so unprojected streams are never decoded
(`src/stripe.rs:159`, `src/projection.rs:24-78`).

`decode_pass` decodes a DataFrame of in-flight blobs (`encode_pass`
output, streaming sinks).  A committed stripe store is read by
`plans.pipeline.decode_corpus` instead, which prunes stripes by the
manifest's doc_id_min/doc_id_max in the driver
(`src/row_group_filter.rs` analog) and decodes only the surviving row
groups.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
import pyspark.sql.types as T

from ..stripes import decode_stripe

_SPARK_TYPES = {
    pa.int8(): T.ByteType(), pa.int16(): T.ShortType(), pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(), pa.float32(): T.FloatType(), pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(), pa.binary(): T.BinaryType(), pa.bool_(): T.BooleanType(),
    pa.date32(): T.DateType(), pa.timestamp("us"): T.TimestampNTZType(),
}


def _spark_type(t: pa.DataType) -> T.DataType:
    if t in _SPARK_TYPES:
        return _SPARK_TYPES[t]
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(_spark_type(t.value_type))
    if pa.types.is_map(t):
        return T.MapType(_spark_type(t.key_type), _spark_type(t.item_type))
    if pa.types.is_struct(t):
        return T.StructType([
            T.StructField(t.field(i).name, _spark_type(t.field(i).type), True)
            for i in range(t.num_fields)])
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    raise TypeError(f"no Spark type for {t}")


def spark_schema_for(pa_schema: pa.Schema) -> T.StructType:
    return T.StructType([
        T.StructField(f.name, _spark_type(f.type), True) for f in pa_schema])


def decode_pass(stripes: DataFrame, out_schema: T.StructType,
                columns: list[str] | None = None) -> DataFrame:
    """stripes must contain a `blob` column; other columns are ignored
    (select the blob only so parquet reads prune the rest)."""
    blob_df = stripes.select("blob")

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column("blob")
            for i in range(batch.num_rows):
                # zero-copy view into the Arrow data buffer: .as_py()
                # duplicated every compressed stripe (~1 MB each, the
                # whole scan's input bytes) before decode even started
                blob = col[i].as_buffer()
                yield decode_stripe(blob, columns=columns)

    return blob_df.mapInArrow(decode_partition, out_schema)
