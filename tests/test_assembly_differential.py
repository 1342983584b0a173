"""Differential test of Arrow assembly across both containers, on a
pyarrow-written ORC file — it needs no reference fixtures.

One table holds nulls at every level: strings (dictionary and direct),
binary, decimal, timestamp[ns], a struct with a nullable string child,
`list<int32>` with null lists and null elements, `map<string,int64>`
with null maps and null values, float32, int8 and bool.  It must come
back value- and type-identical through

- our reader over the pyarrow-written file (several stripes,
  dictionary strings);
- the stripe codec (`encode_stripe` / `decode_stripe`);
- our writer, read back by our reader and by pyarrow's.
"""

from __future__ import annotations

import datetime

import numpy as np
import pytest

pa = pytest.importorskip("pyarrow")
po = pytest.importorskip("pyarrow.orc")

from orc_rust_spark.sources.orc_reader import read_orc
from orc_rust_spark.sources.orc_writer import write_orc
from orc_rust_spark.stripes import decode_stripe, encode_stripe

N = 12_000


def _nulls_at(k, values):
    return [None if i % k == 0 else v for i, v in enumerate(values)]


def _table(n=N):
    rng = np.random.default_rng(11)
    i = np.arange(n)
    base = datetime.datetime(2020, 1, 1)
    ts = pa.array(_nulls_at(8, [
        base + datetime.timedelta(seconds=int(s)) for s in i * 37]),
        pa.timestamp("ns"))
    # non-zero sub-µs nanos on the valid rows
    ts = pa.compute.add(ts, pa.array(i % 1000, pa.int64()).cast(
        pa.duration("ns")))
    return pa.table({
        "s_dict": pa.array(_nulls_at(5, [["red", "green", "blue", "teal"][x % 4]
                                         for x in i])),
        "s_direct": pa.array(_nulls_at(7, [f"row{x:06d}-{int(r)}" for x, r
                                           in zip(i, rng.integers(0, 1 << 40, n))])),
        "bin": pa.array(_nulls_at(6, [bytes(rng.integers(0, 256, x % 9)
                                            .astype(np.uint8)) for x in i]),
                        pa.binary()),
        "dec": pa.array(_nulls_at(9, [int(x) * 7 - 40_000 for x in i]),
                        pa.decimal128(12, 2)),
        "ts": ts,
        "st": pa.array(_nulls_at(10, [{"a": int(x), "b": None if x % 3 == 0
                                       else f"b{x}"} for x in i]),
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "l": pa.array(_nulls_at(11, [[None if (x + j) % 4 == 0 else int(x + j)
                                      for j in range(x % 5)] for x in i]),
                      pa.list_(pa.int32())),
        "m": pa.array(_nulls_at(12, [[(f"k{j}", None if (x + j) % 3 == 0
                                       else int(x * j)) for j in range(x % 4)]
                                     for x in i]),
                      pa.map_(pa.string(), pa.int64())),
        "f32": pa.array(_nulls_at(13, rng.standard_normal(n)
                                  .astype(np.float32).tolist()), pa.float32()),
        "i8": pa.array(_nulls_at(14, (i % 200 - 100).tolist()), pa.int8()),
        "b": pa.array(_nulls_at(15, (i % 3 == 0).tolist()), pa.bool_()),
    })


def _assert_identical(got: pa.Table, exp: pa.Table, label: str):
    assert got.column_names == exp.column_names, label
    for c in exp.column_names:
        a = got.column(c).combine_chunks()
        b = exp.column(c).combine_chunks()
        assert a.type == b.type, f"{label}:{c} type {a.type} != {b.type}"
        assert a.to_pylist() == b.to_pylist(), f"{label}:{c} values differ"


@pytest.fixture(scope="module")
def pyarrow_file(tmp_path_factory):
    tbl = _table()
    path = str(tmp_path_factory.mktemp("diff") / "pyarrow.orc")
    po.write_table(tbl, path, dictionary_key_size_threshold=1.0,
                   stripe_size=1 << 16)
    return path, tbl


def test_pyarrow_written_file_reads_identical(pyarrow_file):
    path, tbl = pyarrow_file
    assert po.ORCFile(path).nstripes > 1
    _assert_identical(read_orc(path), tbl, "read_orc")


def test_stripe_codec_roundtrip_identical():
    tbl = _table().drop_columns(["ts"]).combine_chunks()
    batch = tbl.to_batches()[0]
    # a sliced batch too: every column then carries an array offset
    for label, b in (("whole", batch), ("slice", batch.slice(1001, 5000))):
        got = decode_stripe(encode_stripe(b))
        _assert_identical(pa.Table.from_batches([got]),
                          pa.Table.from_batches([b]), f"stripe-{label}")


def test_write_orc_roundtrip_identical(tmp_path):
    tbl = _table().drop_columns(["ts"])
    path = str(tmp_path / "ours.orc")
    write_orc(path, tbl, stripe_rows=4096)
    _assert_identical(read_orc(path), tbl, "ours->read_orc")
    _assert_identical(po.ORCFile(path).read(), tbl, "ours->pyarrow")


@pytest.mark.parametrize("file_version", ["0.12", "0.11"])
def test_narrow_int_columns_read_like_pyarrow(tmp_path, file_version):
    """int16, int32 and date32 decode straight to their own width
    (RLEv2 in 0.12 files, RLEv1 in 0.11), nulls included, the extremes
    of each type included, whole and through a row-index-pruned read
    that starts mid-run."""
    from orc_rust_spark.sources.predicate import Predicate as P
    n = 30_000
    rng = np.random.default_rng(5)
    i16 = rng.integers(-2**15, 2**15, n)
    i16[:2] = [-2**15, 2**15 - 1]
    i32 = rng.integers(-2**31, 2**31, n)
    i32[:2] = [-2**31, 2**31 - 1]
    days = np.cumsum(rng.integers(0, 3, n)) - 20_000
    tbl = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "i16": pa.array(_nulls_at(7, i16.tolist()), pa.int16()),
        "i32": pa.array(_nulls_at(9, i32.tolist()), pa.int32()),
        "run32": pa.array(_nulls_at(13, (np.arange(n) // 50).tolist()),
                          pa.int32()),
        "d": pa.array(_nulls_at(11, days.tolist()), pa.int32())
        .cast(pa.date32()),
    })
    path = str(tmp_path / f"narrow-{file_version}.orc")
    po.write_table(tbl, path, file_version=file_version,
                   stripe_size=1 << 16, row_index_stride=1000)
    _assert_identical(read_orc(path), po.ORCFile(path).read(),
                      f"{file_version} vs pyarrow")
    _assert_identical(read_orc(path), tbl, f"{file_version} vs source")
    lo = 12_345
    got = read_orc(path, predicate=P.gte("k", lo))
    got = got.filter(pa.compute.greater_equal(got.column("k"), lo))
    _assert_identical(got, tbl.slice(lo), f"{file_version} pruned")
