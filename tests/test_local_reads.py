"""Small planned reads decode in the driver (`task_plan.read_units`).

Every reader must give the same rows on the driver path and on the
Spark path; the Spark path is forced by setting
`task_plan.LOCAL_READ_BYTES` to 0."""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import pyspark.sql.functions as F
import pyspark.sql.types as T

from orc_rust_spark.functions.tokens import TOKEN_SCHEMA, synthesize_tokens
from orc_rust_spark.plans.pipeline import decode_corpus, encode_corpus
from orc_rust_spark.sources import task_plan
from orc_rust_spark.sources.orc_reader import read_metadata
from orc_rust_spark.sources.orc_spark import read_orc_spark
from orc_rust_spark.sources.orc_writer import write_orc
from orc_rust_spark.sources.parquet_arrow import read_parquet_arrow
from orc_rust_spark.sources.predicate import Predicate as P
from orc_rust_spark.sources.row_selection import RowSelection, RowSelector

# the oracle scale of tools/check_oracle.py
SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _is_local(df) -> bool:
    plan = _plan(df)
    return "MapInArrow" not in plan and "Python" not in plan


def _both_paths(monkeypatch, read):
    """(driver-path table, Spark-path table, Spark-path DataFrame) of
    ``read()``; the first must have no Python node in its plan."""
    local = read()
    assert _is_local(local), _plan(local)
    with monkeypatch.context() as m:
        m.setattr(task_plan, "LOCAL_READ_BYTES", 0)
        remote = read()
    assert local.schema == remote.schema
    return local.toArrow(), remote.toArrow(), remote


# ------------------------------------------------------------ stripe store

@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Two parquet files of several stripes each."""
    out = str(tmp_path_factory.mktemp("local_store"))
    docs = synthesize_tokens(spark, n_docs=300, seed=7, partitions=2)
    encode_corpus(docs, out, stripe_tokens=1 << 14, partitions=2)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    return out, ids


@pytest.mark.parametrize("case", ["all", "projected", "one_stripe", "miss"])
def test_decode_corpus_paths_agree(spark, store, monkeypatch, case):
    out, ids = store
    columns, rng = {
        "all": (None, None),
        "projected": (["doc_id", "n_tok"], (ids[40], ids[260])),
        "one_stripe": (["doc_id", "source"], (ids[3], ids[4])),
        "miss": (["doc_id"], ("zzz", "zzzz")),
    }[case]
    local, remote, remote_df = _both_paths(
        monkeypatch,
        lambda: decode_corpus(spark, out, columns=columns, doc_id_range=rng))
    assert local.to_pylist() == remote.to_pylist()
    assert (local.num_rows == 0) == (case == "miss")
    if case != "miss":
        assert not _is_local(remote_df)


def _corrupt_first_blob(out: str) -> None:
    f = sorted(os.path.join(d, n) for d, _, ns in os.walk(out)
               for n in ns if n.endswith(".parquet"))[0]
    t = pq.read_table(f)
    blobs = t.column("blob").to_pylist()
    blobs[0] = blobs[0][: len(blobs[0]) // 2]
    i = t.schema.get_field_index("blob")
    pq.write_table(t.set_column(i, "blob", pa.array(blobs, pa.binary())), f)


def test_decode_corpus_error_is_eager(spark, tmp_path, monkeypatch):
    """A corrupt blob raises from the decode_corpus call on the driver
    path, and only at the first action on the Spark path."""
    out = str(tmp_path / "store")
    encode_corpus(synthesize_tokens(spark, n_docs=60, seed=3, partitions=1),
                  out, stripe_tokens=1 << 20, partitions=1)
    _corrupt_first_blob(out)
    with pytest.raises(ValueError, match="truncated"):
        decode_corpus(spark, out)
    monkeypatch.setattr(task_plan, "LOCAL_READ_BYTES", 0)
    df = decode_corpus(spark, out)
    with pytest.raises(Exception, match="truncated"):
        df.collect()


# --------------------------------------------------------------------- ORC

@pytest.fixture(scope="module")
def orc_dir(tmp_path_factory):
    """Three files of four 250-row stripes each, keys 0..2999."""
    d = tmp_path_factory.mktemp("local_orc")
    base = datetime.datetime(2024, 1, 1)
    for fi in range(3):
        k = np.arange(fi * 1000, (fi + 1) * 1000, dtype=np.int64)
        write_orc(str(d / f"part-{fi}.orc"), pa.table({
            "k": k,
            "s": pa.array([f"row{i}" if i % 7 else None for i in k]),
            "x": pa.array(k * 0.5),
            "ts": pa.array([base + datetime.timedelta(seconds=int(i))
                            for i in k], pa.timestamp("us")),
        }), compression=1, stripe_rows=250)
    return str(d)


def _selection(n_rows: int) -> RowSelection:
    runs = [RowSelector(100, True), RowSelector(20, False),
            RowSelector(1500, True), RowSelector(5, False)]
    return RowSelection(runs + [RowSelector(n_rows - 1625, True)])


@pytest.mark.parametrize("case", [
    "all", "projected", "predicate", "row_selection", "pruned"])
def test_read_orc_spark_paths_agree(spark, orc_dir, monkeypatch, case):
    kwargs = {
        "all": {"split_bytes": 1 << 12},
        "projected": {"columns": ["k", "ts"]},
        "predicate": {"predicate": P.and_([P.gte("k", 990),
                                           P.lte("k", 1010)])},
        "row_selection": {"row_selection": _selection(3000),
                          "columns": ["k", "s"]},
        "pruned": {"predicate": P.gt("k", 10**9)},
    }[case]
    local, remote, remote_df = _both_paths(
        monkeypatch, lambda: read_orc_spark(spark, orc_dir, **kwargs))
    assert local.to_pylist() == remote.to_pylist()
    if case == "row_selection":
        assert local.column("k").to_pylist() == list(range(100, 120)) \
            + list(range(1620, 1625))
    assert (local.num_rows == 0) == (case == "pruned")
    if case != "pruned":
        assert not _is_local(remote_df)


def test_read_orc_spark_error_is_eager(spark, tmp_path, monkeypatch):
    """Garbage in a stripe's data bytes raises from the read_orc_spark
    call on the driver path, and only at the first action on the Spark
    path."""
    path = str(tmp_path / "bad.orc")
    write_orc(path, pa.table({"k": np.arange(5000, dtype=np.int64)}),
              compression=1)
    s = read_metadata(path).stripes[0]
    start = s["offset"] + s["index_length"]
    with open(path, "r+b") as f:
        f.seek(start)
        f.write(b"\xff" * s["data_length"])
    with pytest.raises(Exception):
        read_orc_spark(spark, path)
    monkeypatch.setattr(task_plan, "LOCAL_READ_BYTES", 0)
    df = read_orc_spark(spark, path)
    with pytest.raises(Exception):
        df.collect()


# ----------------------------------------------------------------- parquet

@pytest.fixture(scope="module")
def parquet_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("local_parquet")
    for fi in range(2):
        k = np.arange(fi * 400, (fi + 1) * 400, dtype=np.int64)
        pq.write_table(pa.table({
            "k": k, "tok": pa.array([[int(i), int(i) + 1] for i in k]),
            "s": pa.array([str(i) for i in k])}),
            str(d / f"part-{fi}.parquet"), row_group_size=100)
    return str(d)


@pytest.mark.parametrize("columns", [None, ["k", "tok"]])
def test_read_parquet_arrow_paths_agree(spark, parquet_dir, monkeypatch,
                                        columns):
    local, remote, remote_df = _both_paths(
        monkeypatch, lambda: read_parquet_arrow(spark, parquet_dir, columns))
    want = pq.read_table(parquet_dir, columns=columns).to_pylist()
    assert local.to_pylist() == remote.to_pylist() == want
    assert not _is_local(remote_df)


# --------------------------------------------------------------- read_units

def test_threshold_is_inclusive(spark):
    """Stored bytes equal to LOCAL_READ_BYTES read in the driver; one
    byte more goes to Spark."""
    schema = T.StructType([T.StructField("i", T.LongType())])

    def _one_row(i, unit):
        yield pa.record_batch({"i": pa.array([i], pa.int64())})

    at = task_plan.LOCAL_READ_BYTES
    df = task_plan.read_units(spark, [0, 1], [at - 10, 10], _one_row, schema)
    assert _is_local(df)
    df = task_plan.read_units(spark, [0, 1], [at - 10, 11], _one_row, schema)
    assert not _is_local(df)
    assert [r.i for r in df.collect()] == [0, 1]


def test_decoded_cap_is_inclusive(spark):
    """Decoded batches of exactly LOCAL_ARROW_BYTES stay in the driver;
    eight bytes more and the read goes to Spark, with the same rows."""
    schema = T.StructType([T.StructField("i", T.LongType())])
    half = task_plan.LOCAL_ARROW_BYTES // 16

    def fn(i, unit):
        # `unit` extra rows past half the cap each
        yield pa.record_batch(
            {"i": pa.array(np.full(half + unit, i), pa.int64())})

    df = task_plan.read_units(spark, [0, 0], [1, 1], fn, schema)
    assert _is_local(df)
    assert df.count() == 2 * half
    df = task_plan.read_units(spark, [0, 1], [1, 1], fn, schema)
    assert not _is_local(df)
    got = df.groupBy("i").count().orderBy("i").collect()
    assert [(r.i, r["count"]) for r in got] == [(0, half), (1, half + 1)]


def test_compressible_orc_goes_to_spark(spark, tmp_path):
    """A 1M-row constant column stores in a few KB but decodes to 8 MB:
    the driver gives up at LOCAL_ARROW_BYTES and the read runs on
    Spark."""
    path = str(tmp_path / "const.orc")
    n = 1 << 20
    write_orc(path, pa.table({"k": np.full(n, 7, dtype=np.int64)}),
              compression=1)
    assert os.path.getsize(path) < task_plan.LOCAL_READ_BYTES // 16
    df = read_orc_spark(spark, path)
    assert not _is_local(df)
    assert df.agg(F.count("*"), F.sum("k")).collect()[0] == (n, 7 * n)


def test_compressible_store_goes_to_spark(spark, tmp_path):
    """Four docs of 300k equal tokens: one stripe of a few KB that
    decodes to 4.8 MB, so decode_corpus runs it on Spark."""
    out = str(tmp_path / "store")
    n_tok = 300_000
    docs = spark.createDataFrame(pa.table({
        "doc_id": [f"d{i}" for i in range(4)],
        "tokens": pa.array([np.full(n_tok, 5, dtype=np.int32)] * 4,
                           pa.list_(pa.int32())),
        "n_tok": pa.array([n_tok] * 4, pa.int32()),
        "source": ["web"] * 4}), TOKEN_SCHEMA)
    encode_corpus(docs, out, stripe_tokens=1 << 21, partitions=1)
    stored = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet"))
    assert stored < task_plan.LOCAL_READ_BYTES // 16
    df = decode_corpus(spark, out, columns=["doc_id", "tokens"])
    assert not _is_local(df)
    got = df.select("doc_id", F.size("tokens").alias("n"),
                    F.array_max("tokens").alias("mx")).orderBy("doc_id")
    assert [tuple(r) for r in got.collect()] == \
        [(f"d{i}", n_tok, 5) for i in range(4)]


def _nulls_fn(columns):
    """A unit function yielding `columns` of a batch whose row 0 holds
    a null map<string,timestamp> and a null struct (a closure, so Spark
    workers unpickle it without importing this module)."""
    def fn(i, unit):
        ts = pa.timestamp("us")
        t0 = datetime.datetime(2024, 5, 6, 7, 8, 9)
        yield pa.record_batch({
            "id": pa.array([0, 1, 2], pa.int32()),
            "m": pa.array([None, [], [("a", t0)]], pa.map_(pa.string(), ts)),
            "st": pa.array([None, {"t": t0}, {"t": None}],
                           pa.struct([("t", ts)])),
        }).select(columns)
    return fn


_NULLS_SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("m", T.MapType(T.StringType(), T.TimestampNTZType())),
    T.StructField("st", T.StructType([
        T.StructField("t", T.TimestampNTZType())])),
])


def test_null_timestamp_map_stays_null(spark, monkeypatch):
    """SPARK-48302: before pyarrow 17 createDataFrame turns a null
    map<string,timestamp> into an empty map, so such a schema stays on
    mapInArrow; a null map and a null struct read back as null whatever
    the threshold."""
    fn = _nulls_fn(_NULLS_SCHEMA.names)

    def read():
        df = task_plan.read_units(spark, [0], [1], fn, _NULLS_SCHEMA)
        assert not _is_local(df)
        return df.toArrow().to_pylist()

    rows = read()
    with monkeypatch.context() as m:
        m.setattr(task_plan, "LOCAL_READ_BYTES", 0)
        assert read() == rows
    assert rows[0]["m"] is None and rows[0]["st"] is None
    assert rows[1]["m"] == [] and rows[2]["st"] == {"t": None}


def test_null_struct_reads_locally(spark, monkeypatch):
    """createDataFrame rebuilds a struct of timestamps with its null
    mask, so such a schema reads in the driver and keeps a null row."""
    schema = T.StructType([f for f in _NULLS_SCHEMA.fields if f.name != "m"])
    fn = _nulls_fn(schema.names)
    local, remote, _ = _both_paths(
        monkeypatch, lambda: task_plan.read_units(spark, [0], [1], fn, schema))
    assert local.to_pylist() == remote.to_pylist()
    assert local.column("st").to_pylist()[0] is None


def test_timestamps_ignore_session_time_zone(spark, monkeypatch):
    """Naive Arrow timestamps are UTC instants on both paths, whatever
    the session time zone."""
    schema = T.StructType([T.StructField("ltz", T.TimestampType()),
                           T.StructField("ntz", T.TimestampNTZType())])
    us = [1_700_000_000_123_456, None]

    def fn(i, unit):
        a = pa.array(us, pa.int64()).cast(pa.timestamp("us"))
        yield pa.record_batch({"ltz": a, "ntz": a})

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for t in _both_paths(monkeypatch, lambda: task_plan.read_units(
                spark, [0], [1], fn, schema))[:2]:
            for c in ("ltz", "ntz"):
                assert t.column(c).cast(pa.int64()).to_pylist() == us
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# ------------------------------------------------------------ oracle rows

@pytest.mark.parametrize("name", [
    "roundtrip_orc_file", "pipeline_encode_corpus", "orc_rowindex_pruned",
    "orc_external_pruned", "orc_many_files", "orc_bloom_pruned",
    "orc_row_selection"])
def test_oracle_rows_agree_on_spark_path(spark, monkeypatch, name):
    """The oracle rows that read through `read_units` decode in the
    driver at the oracle scale; on the Spark path they give the same
    rows, so what they check of the readers holds on both paths."""
    from orc_rust_spark.queries import queries
    q = queries()[name]
    local = q(spark, SF)
    assert _is_local(local), _plan(local)
    with monkeypatch.context() as m:
        m.setattr(task_plan, "LOCAL_READ_BYTES", 0)
        remote = q(spark, SF)
        assert not _is_local(remote)
        remote_rows = sorted(tuple(r) for r in remote.collect())
    assert local.columns == remote.columns
    assert sorted(tuple(r) for r in local.collect()) == remote_rows
    assert remote_rows
