"""`read_orc(schema=...)` + timestamp precision options — the
reference's `with_schema` / `with_timestamp_precision` surface
(`src/arrow_reader.rs:80-135`, `src/schema.rs:31-38`), mirrored against
the reference's OWN fixture tests (`tests/basic/main.rs:504-618`):
pyarrow_timestamps.orc at every unit and overflowing_timestamps.orc
(year 0001 = -62135596800 s, unrepresentable in int64 nanoseconds).
Where the reference's files are absent, pyarrow writes equivalent ones."""

from __future__ import annotations

import os
from datetime import datetime, timedelta
from decimal import Decimal

import pyarrow as pa
import pyarrow.orc as po
import pytest

from orc_rust_spark.sources.orc_reader import read_orc

REF = "/root/reference/tests/basic/data"


@pytest.fixture(scope="module")
def OVERFLOW(tmp_path_factory):
    """The reference's overflowing_timestamps.orc where it exists, else
    the same columns written by pyarrow: `id` 1..3 and `timestamp` at
    12345678 s (1970-05-23 21:21:18) and -62135596800 s (0001-01-01),
    the values `tests/basic/main.rs:566-618` asserts."""
    path = f"{REF}/overflowing_timestamps.orc"
    if os.path.exists(path):
        return path
    path = str(tmp_path_factory.mktemp("ts") / "overflowing_timestamps.orc")
    po.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int32()),
        "timestamp": pa.array([12345678, -62135596800, 12345678],
                              pa.timestamp("s")),
    }), path)
    return path


@pytest.fixture(scope="module")
def PA_TS(tmp_path_factory):
    """The reference's pyarrow_timestamps.orc where it exists, else an
    equivalent pyarrow-written file: whole-second naive and UTC
    nanosecond timestamps on both sides of 1970 and of 2015-01-01, and
    a null."""
    path = f"{REF}/pyarrow_timestamps.orc"
    if os.path.exists(path):
        return path
    secs = [-86400 * 365 - 1, -1, 0, 1, None,
            1420070400 - 1, 1420070400, 1420070400 + 86400 * 40 + 7]
    ns = [None if v is None else v * 10 ** 9 for v in secs]
    path = str(tmp_path_factory.mktemp("ts") / "pyarrow_timestamps.orc")
    po.write_table(pa.table({
        "timestamp_notz": pa.array(ns, pa.timestamp("ns")),
        "timestamp_utc": pa.array(ns, pa.timestamp("ns", "UTC")),
    }), path)
    return path


def test_overflowing_default_ns_errors(OVERFLOW):
    """Default ns read of the year-0001 instant must ERROR (the
    reference's overflowing_timestamps_test asserts collect() is Err;
    a wrapped int64 would be silent data corruption)."""
    with pytest.raises(ValueError, match="overflow"):
        read_orc(OVERFLOW)


@pytest.mark.parametrize("unit", ["s", "ms", "us"])
def test_custom_precision_via_schema(OVERFLOW, unit):
    """`custom_precision_timestamps_test` (tests/basic/main.rs:566-589):
    with_schema at s/ms/us decodes the year-0001 instant exactly."""
    schema = pa.schema([pa.field("id", pa.int32()),
                        pa.field("ts", pa.timestamp(unit))])
    t = read_orc(OVERFLOW, schema=schema)
    assert t.schema == schema
    assert t.column("id").to_pylist() == [1, 2, 3]
    assert t.column("ts").to_pylist() == [
        datetime(1970, 5, 23, 21, 21, 18),
        datetime(1, 1, 1, 0, 0, 0),
        datetime(1970, 5, 23, 21, 21, 18),
    ]


@pytest.mark.parametrize("unit", ["s", "ms", "us"])
def test_custom_precision_via_parameter(OVERFLOW, unit):
    """The `with_timestamp_precision` spelling (no schema)."""
    t = read_orc(OVERFLOW, timestamp_precision=unit)
    assert t.column("timestamp").type == pa.timestamp(unit)
    epoch = {"s": 1, "ms": 10 ** 3, "us": 10 ** 6}[unit]
    raw = t.column("timestamp").cast(pa.int64()).to_pylist()
    assert raw == [12345678 * epoch, -62135596800 * epoch,
                   12345678 * epoch]


def test_decimal128_timestamps(OVERFLOW):
    """`decimal128_timestamps_test` (tests/basic/main.rs:590-618): the
    lossless Decimal128(38, 9) seconds.nanoseconds representation."""
    schema = pa.schema([pa.field("id", pa.int32()),
                        pa.field("ts", pa.decimal128(38, 9))])
    t = read_orc(OVERFLOW, schema=schema)
    assert t.schema == schema
    assert t.column("ts").to_pylist() == [
        Decimal("12345678.000000000"),
        Decimal("-62135596800.000000000"),
        Decimal("12345678.000000000"),
    ]
    # same via the precision parameter
    t2 = read_orc(OVERFLOW, timestamp_precision="decimal")
    assert t2.column("timestamp").to_pylist() == \
        t.column("ts").to_pylist()


def test_pyarrow_timestamps_every_unit_vs_pyarrow(PA_TS):
    """pyarrow_timestamps.orc (`timestamps_test`,
    tests/basic/main.rs:504-543) value-checked against pyarrow's
    independent C++ reader at every precision (all values are
    whole-second, so every unit is exact)."""
    want = po.ORCFile(PA_TS).read()
    got_ns = read_orc(PA_TS)
    for col in ("timestamp_notz", "timestamp_utc"):
        assert got_ns.column(col).cast(pa.int64()).to_pylist() == \
            want.column(col).cast(pa.int64()).to_pylist(), col
    for unit in ("s", "ms", "us"):
        t = read_orc(PA_TS, timestamp_precision=unit)
        div = {"s": 10 ** 9, "ms": 10 ** 6, "us": 10 ** 3}[unit]
        for col in ("timestamp_notz", "timestamp_utc"):
            assert t.column(col).cast(pa.int64()).to_pylist() == [
                None if v is None else v // div
                for v in want.column(col).cast(pa.int64()).to_pylist()], \
                (unit, col)


def test_sub_unit_values_error_not_truncate(tmp_path):
    """A foreign writer's sub-microsecond instants must ERROR at
    timestamp_precision='us' (`src/encoding/timestamp.rs:170-177`:
    "Error if loss of precision"), decode exactly at 'ns', and survive
    losslessly at 'decimal'."""
    path = str(tmp_path / "ns.orc")
    vals = pa.array([1_000_000_001, 42, None], pa.timestamp("ns"))
    po.write_table(pa.table({"t": vals}), path)
    with pytest.raises(ValueError, match="precision"):
        read_orc(path, timestamp_precision="us")
    got = read_orc(path)  # default ns: exact
    assert got.column("t").cast(pa.int64()).to_pylist() == \
        [1_000_000_001, 42, None]
    dec = read_orc(path, timestamp_precision="decimal")
    assert dec.column("t").to_pylist() == [
        Decimal("1.000000001"), Decimal("0.000000042"), None]


def test_with_schema_positional_semantics(OVERFLOW):
    """with_schema replaces the derived schema POSITIONALLY (reference
    semantics: the reference test renames column `timestamp` to `ts`
    this way, tests/basic/main.rs:571-575), coerces non-timestamp
    fields (safe casts only), composes with a projection, and errors
    on a field-count mismatch."""
    schema = pa.schema([pa.field("ident", pa.int64()),
                        pa.field("ts", pa.timestamp("ms"))])
    t = read_orc(OVERFLOW, schema=schema)
    assert t.schema == schema
    assert t.column_names == ["ident", "ts"]
    assert t.column("ident").to_pylist() == [1, 2, 3]
    # schema applies to the PROJECTED columns
    only = read_orc(OVERFLOW, columns=["timestamp"],
                    schema=pa.schema([pa.field("t", pa.timestamp("s"))]))
    assert only.column_names == ["t"]
    assert only.num_rows == 3
    with pytest.raises(ValueError, match="positional|fields"):
        read_orc(OVERFLOW, schema=pa.schema([pa.field("x", pa.int8())]))
    with pytest.raises(ValueError, match="timestamp_precision"):
        read_orc(OVERFLOW, timestamp_precision="fortnights")


def test_read_orc_spark_timestamp_precision(tmp_path):
    """The distributed source's precision surface: whole-us foreign
    timestamps read at the 'us' default; sub-us values ERROR with the
    clear precision message instead of an opaque Arrow cast failure;
    'decimal' reads them losslessly as DecimalType(38,9)."""
    import pytest
    from pyspark.sql import SparkSession
    from orc_rust_spark.sources.orc_spark import read_orc_spark
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    d = tmp_path / "ts"
    d.mkdir()
    vals = pa.array([1_000_000_001, 42_000, None], pa.timestamp("ns"))
    po.write_table(pa.table({"t": vals}), str(d / "a.orc"))

    with pytest.raises(ValueError, match="us|ms|decimal"):
        read_orc_spark(spark, str(d), timestamp_precision="fortnights")
    with pytest.raises(Exception, match="precision"):
        read_orc_spark(spark, str(d)).collect()

    rows = read_orc_spark(spark, str(d),
                          timestamp_precision="decimal") \
        .orderBy("t").collect()
    got = [None if r["t"] is None else str(r["t"]) for r in rows]
    assert got == [None, "0.000042000", "1.000000001"]

    # whole-us values at the default
    d2 = tmp_path / "ts2"
    d2.mkdir()
    po.write_table(pa.table({"t": pa.array([1_000_000, 2_000_000],
                                           pa.timestamp("ns"))}),
                   str(d2 / "a.orc"))
    got2 = sorted(r["t"].isoformat()
                  for r in read_orc_spark(spark, str(d2)).collect())
    assert got2 == ["1970-01-01T00:00:00.001000",
                    "1970-01-01T00:00:00.002000"]


_T0 = datetime(2020, 1, 1, 0, 0, 0, 123000)
_T1 = datetime(1999, 5, 5, 12, 30, 1)


def _nested_ts_table() -> pa.Table:
    """Timestamps at the root and inside a struct, a list and a map,
    all whole milliseconds so every unit reads them exactly."""
    ts = pa.array([_T0, None, _T1], pa.timestamp("ms"))
    return pa.table({
        "id": pa.array([0, 1, 2], pa.int32()),
        "r": ts,
        "s": pa.StructArray.from_arrays([ts], ["t"]),
        "l": pa.array([[_T0, _T1], [], None], pa.list_(pa.timestamp("ms"))),
        "m": pa.array([[(1, _T1)], [], None],
                      pa.map_(pa.int32(), pa.timestamp("ms"))),
    })


def _as_unit(v, unit):
    """Python value of a source datetime read at `unit`."""
    if v is None or unit != "decimal":
        return v
    us = (v - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    return Decimal(us).scaleb(-6)


def _expected_nested(unit):
    conv = lambda v: _as_unit(v, unit)  # noqa: E731
    return [{"id": r["id"], "r": conv(r["r"]),
             "s": None if r["s"] is None else {"t": conv(r["s"]["t"])},
             "l": None if r["l"] is None else [conv(v) for v in r["l"]],
             "m": None if r["m"] is None else [(k, conv(v)) for k, v in r["m"]]}
            for r in _nested_ts_table().to_pylist()]


@pytest.mark.parametrize("unit", ["us", "ms", "decimal"])
def test_nested_timestamps_take_precision(tmp_path, unit):
    """`timestamp_precision` reaches timestamps nested in struct, list
    and map columns, so the decoded types match `arrow_schema` (a
    root-only unit map left nested fields at ns)."""
    from orc_rust_spark.sources.orc_reader import arrow_schema, read_metadata
    path = str(tmp_path / "nested.orc")
    po.write_table(_nested_ts_table(), path)
    got = read_orc(path, timestamp_precision=unit)
    want_type = pa.decimal128(38, 9) if unit == "decimal" \
        else pa.timestamp(unit)
    assert got.schema == arrow_schema(read_metadata(path), None, unit)
    assert got.schema.field("r").type == want_type
    assert got.schema.field("s").type.field("t").type == want_type
    assert got.schema.field("l").type.value_type == want_type
    assert got.schema.field("m").type.item_type == want_type
    assert got.to_pylist() == _expected_nested(unit)


@pytest.mark.parametrize("unit", ["us", "ms", "decimal"])
def test_nested_timestamps_take_precision_spark(spark, tmp_path, unit):
    """The distributed source gives nested timestamps the same unit
    (widened to Spark's µs for 'ms') and the same values."""
    from orc_rust_spark.sources.orc_spark import read_orc_spark
    d = tmp_path / "nested"
    d.mkdir()
    po.write_table(_nested_ts_table(), str(d / "a.orc"))
    got = read_orc_spark(spark, str(d), timestamp_precision=unit) \
        .orderBy("id").toArrow()
    if unit == "decimal":
        assert got.schema.field("s").type.field("t").type \
            == pa.decimal128(38, 9)
    else:
        assert got.schema.field("s").type.field("t").type.unit == "us"
    assert got.to_pylist() == _expected_nested(unit)


def test_nested_timestamp_precision_loss_errors(tmp_path):
    """The error-on-loss policy covers nested fields: a sub-µs instant
    inside a struct errors at 'us' and reads exactly at 'decimal'."""
    path = str(tmp_path / "nested_ns.orc")
    t = pa.array([1_000_000_001, None], pa.timestamp("ns"))
    po.write_table(pa.table({"s": pa.StructArray.from_arrays([t], ["t"])}),
                   path)
    with pytest.raises(ValueError, match="precision"):
        read_orc(path, timestamp_precision="us")
    got = read_orc(path, timestamp_precision="decimal")
    assert got.column("s").to_pylist() == [{"t": Decimal("1.000000001")},
                                           {"t": None}]


def test_nested_timestamps_take_requested_schema_units(tmp_path):
    """A requested schema sets the unit of nested timestamps at the
    same place in the type tree, field by field."""
    path = str(tmp_path / "nested.orc")
    po.write_table(_nested_ts_table(), path)
    schema = pa.schema([
        ("id", pa.int32()), ("r", pa.timestamp("us")),
        ("s", pa.struct([("t", pa.timestamp("ms"))])),
        ("l", pa.list_(pa.decimal128(38, 9))),
        ("m", pa.map_(pa.int32(), pa.timestamp("us")))])
    got = read_orc(path, schema=schema)
    assert got.schema == schema
    want = _expected_nested("us")
    for row, dec in zip(want, _expected_nested("decimal")):
        row["l"] = dec["l"]
    assert got.to_pylist() == want
