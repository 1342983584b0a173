"""Nested-type stripe coverage (SURVEY §2.5): struct, map, generic
lists (incl. list<float> embeddings and list<list<...>>), with nulls at
every level, slice offsets, and Spark round-trips."""

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F

from orc_rust_spark.stripes import decode_stripe, encode_stripe


def _roundtrip(batch):
    rb = decode_stripe(encode_stripe(batch))
    for name in batch.schema.names:
        assert rb.column(name).to_pylist() == batch.column(name).to_pylist(), name
    return rb


def test_struct_roundtrip():
    _roundtrip(pa.record_batch([pa.array(
        [{"x": 1, "y": "a"}, None, {"x": 3, "y": None}, {"x": None, "y": "d"}])],
        names=["s"]))


def test_map_roundtrip():
    _roundtrip(pa.record_batch([pa.array(
        [{"a": 1}, None, {}, {"b": 2, "c": None}],
        pa.map_(pa.string(), pa.int64()))], names=["m"]))


def test_list_float_and_nested_lists():
    ls_type = pa.list_(pa.struct([("k", pa.int64()),
                                  ("v", pa.list_(pa.float64()))]))
    _roundtrip(pa.record_batch([
        pa.array([[1.5, 2.5], None, [], [3.5]], pa.list_(pa.float32())),
        pa.array([[["x", None]], None, [["w"], []], [["q"]]],
                 pa.list_(pa.list_(pa.string()))),
        pa.array([[{"k": 1, "v": [1.0]}], None, [], [{"k": 2, "v": []}]],
                 ls_type),
    ], names=["lf", "ll", "ls"]))


def test_nested_sliced_batches():
    rng = np.random.default_rng(0)
    rows = [{"x": int(rng.integers(0, 100)),
             "v": [float(f) for f in rng.random(int(rng.integers(0, 5)))]}
            for _ in range(500)]
    full = pa.record_batch([pa.array(rows)], names=["s"])
    for start, ln in [(0, 200), (137, 200), (499, 1)]:
        part = full.slice(start, ln)
        rb = decode_stripe(encode_stripe(part))
        assert rb.column("s").to_pylist() == part.column("s").to_pylist()


def test_embeddings_roundtrip_spark(spark):
    from orc_rust_spark.operators.relation import roundtrip_relation
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rt = roundtrip_relation(emb, stripe_rows=256)
    a = sorted((r.vec_id, tuple(r.embedding), r.label) for r in rt.collect())
    b = sorted((r.vec_id, tuple(r.embedding), r.label) for r in emb.collect())
    assert a == b


def test_relation_stripes_honor_stripe_rows(spark):
    """10,000-row Arrow batches against stripe_rows=4096: every stripe
    of the partition but the last holds exactly 4,096 rows, and the
    round trip still returns the input rows."""
    from orc_rust_spark.operators.relation import (encode_relation,
                                                   roundtrip_relation)
    df = spark.range(0, 25000, 1, 1).select(
        "id", (F.col("id") % 7).alias("v"))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        stripes = encode_relation(df, stripe_rows=4096) \
            .select("stripe_id", "n_rows").collect()
        assert [r.n_rows for r in sorted(stripes)] == [4096] * 6 + [424]
        rt = roundtrip_relation(df, stripe_rows=4096)
        assert sorted(rt.collect()) == sorted(df.collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_projection_skips_nested_subtree():
    batch = pa.record_batch([
        pa.array([{"x": 1}], pa.struct([("x", pa.int64())])),
        pa.array(["keep"]),
    ], names=["s", "t"])
    rb = decode_stripe(encode_stripe(batch), columns=["t"])
    assert rb.schema.names == ["t"]
    assert rb.column("t").to_pylist() == ["keep"]


def test_spark_relation_roundtrip_struct_and_map(spark):
    import pyspark.sql.types as T
    from orc_rust_spark.operators.relation import roundtrip_relation
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType())])),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("v", T.ArrayType(T.FloatType())),
        T.StructField("ai", T.ArrayType(T.IntegerType())),
        T.StructField("al", T.ArrayType(T.LongType())),
    ])
    rows = [(1, (7, "x"), {"k": 1}, [1.5, 2.5], [1, None, 3], [2**40, None]),
            (2, None, None, None, None, None),
            (3, (None, "z"), {"a": 2, "b": None}, [], [4], [-5])]
    df = spark.createDataFrame(rows, schema)
    rt = roundtrip_relation(df, stripe_rows=2)

    def norm(r):
        return (r.id, tuple(r.s) if r.s is not None else None,
                tuple(sorted(r.m.items())) if r.m is not None else None,
                tuple(r.v) if r.v is not None else None,
                tuple(r.ai) if r.ai is not None else None,
                tuple(r.al) if r.al is not None else None)
    assert sorted(map(norm, rt.collect())) == sorted(map(norm, df.collect()))


def test_union_sparse_roundtrip():
    """Sparse union (`src/array_decoder/union.rs:36-163` analog): TAG
    byte-RLE stream + full-length children; no Spark type exists
    (SURVEY §1.2) so this is a stripe-format capability exercised at
    the kernel level."""
    import numpy as np
    import pyarrow as pa
    from orc_rust_spark.stripes import decode_stripe, encode_stripe

    n = 10_000
    rng = np.random.default_rng(4)
    tags = rng.integers(0, 2, n).astype(np.int8)
    ints = pa.array(rng.integers(0, 1000, n))
    strs = pa.array([f"s{i}" if i % 5 else None for i in range(n)])
    union = pa.UnionArray.from_sparse(pa.array(tags, pa.int8()), [ints, strs],
                                      field_names=["num", "txt"])
    batch = pa.record_batch([pa.array(np.arange(n)), union], names=["k", "u"])
    blob = encode_stripe(batch)
    out = decode_stripe(blob)
    u = out.column("u")
    assert pa.types.is_union(u.type)
    got_tags = np.frombuffer(u.buffers()[1], np.int8)[:n]
    assert np.array_equal(got_tags, tags)
    assert u.field(0).to_pylist() == ints.to_pylist()
    assert u.field(1).to_pylist() == strs.to_pylist()
    # per-row selected value follows the tag
    for i in rng.integers(0, n, 25):
        exp = ints[int(i)].as_py() if tags[i] == 0 else strs[int(i)].as_py()
        assert u[int(i)].as_py() == exp
    # projection must skip the whole union subtree
    proj = decode_stripe(blob, columns=["k"])
    assert proj.schema.names == ["k"]


def test_int_lists_keep_null_elements_and_width():
    """Only list<int32> without null elements takes the int32 fast
    path; null elements and int64 children keep their values and
    type through the general list column."""
    batch = pa.record_batch([
        pa.array([[1, None, 3], None, [], [4]], pa.list_(pa.int32())),
        pa.array([[2**40, None], None, [], [-(2**62)]], pa.list_(pa.int64())),
        pa.array([[7, 8], None, [], [9]], pa.list_(pa.int32())),
    ], names=["i32_nulls", "i64", "i32"])
    rb = _roundtrip(batch)
    assert rb.schema == batch.schema


def test_timestamps_of_every_unit_store_microseconds():
    """A stripe stores every timestamp unit as µs: coarser units are
    converted, not stored as raw counts, and a sub-µs value raises
    instead of being truncated."""
    import datetime
    import pytest
    t = datetime.datetime(2020, 1, 1, 12, 0, 0, 123000)
    for unit in ("s", "ms", "us", "ns"):
        v = t.replace(microsecond=0) if unit == "s" else t
        arr = pa.array([v, None, v], pa.timestamp(unit))
        rb = decode_stripe(encode_stripe(pa.record_batch([arr], names=["t"])))
        assert rb.column("t").type == pa.timestamp("us")
        assert rb.column("t").to_pylist() == [v, None, v], unit
    sub_us = pa.array([1_000_001], pa.timestamp("ns"))
    with pytest.raises(pa.ArrowInvalid):
        encode_stripe(pa.record_batch([sub_us], names=["t"]))
