"""Real ORC writer (`sources/orc_writer.py`) interop: files we write
must be read back value-identical by pyarrow's independent C++ ORC
reader AND by our own kernel-based reader — the write-side counterpart
of `test_orc_interop.py` (reference surface: `src/arrow_writer.rs`)."""

from __future__ import annotations

import numpy as np
import pytest

pa = pytest.importorskip("pyarrow")
po = pytest.importorskip("pyarrow.orc")
pq = pytest.importorskip("pyarrow.parquet")

from orc_rust_spark.sources.orc_reader import read_orc
from orc_rust_spark.sources.orc_writer import write_orc


def _alltypes(n=50_000):
    rng = np.random.default_rng(3)
    return pa.table({
        "b": pa.array(rng.integers(0, 2, n).astype(bool)),
        "i8": pa.array(rng.integers(-128, 128, n).astype(np.int8)),
        "i16": pa.array(rng.integers(-30000, 30000, n).astype(np.int16)),
        "i32": pa.array((rng.zipf(1.3, n) - 1).astype(np.int32) % 50257),
        "i64": pa.array(rng.integers(-2**40, 2**40, n)),
        "f32": pa.array(rng.standard_normal(n).astype(np.float32)),
        "f64": pa.array(rng.standard_normal(n)),
        "s": pa.array([f"doc{i:08d}" if i % 7 else None for i in range(n)]),
        "bin": pa.array([bytes([i % 250, (i * 7) % 250]) for i in range(n)],
                        pa.binary()),
        "d": pa.array(rng.integers(0, 20000, n).astype(np.int32))
             .cast(pa.date32()),
        "nulled": pa.array([float(i) if i % 3 else None for i in range(n)]),
    })


def _assert_tables_equal(got, exp, label):
    assert got.num_rows == exp.num_rows
    for c in exp.column_names:
        a = got.column(c).combine_chunks()
        b = exp.column(c).combine_chunks()
        if a.type != b.type:
            a = a.cast(b.type)
        assert a == b, f"{label}:{c} differs"


@pytest.mark.parametrize("compression", [0, 1], ids=["none", "zlib"])
def test_write_alltypes_pyarrow_reads_it(tmp_path, compression):
    tbl = _alltypes()
    path = str(tmp_path / f"w{compression}.orc")
    write_orc(path, tbl, compression=compression, stripe_rows=16384)
    _assert_tables_equal(po.ORCFile(path).read(), tbl, "pyarrow")
    _assert_tables_equal(read_orc(path), tbl, "own-reader")


def test_write_lineitem_roundtrip(tmp_path):
    src = pq.read_table("/root/testdata/sf0.001/lineitem.parquet",
                        columns=["l_orderkey", "l_partkey", "l_linenumber",
                                 "l_quantity", "l_returnflag", "l_linestatus"])
    path = str(tmp_path / "lineitem.orc")
    write_orc(path, src, compression=1)
    _assert_tables_equal(po.ORCFile(path).read(), src, "lineitem")


def test_write_zipf_tokens_interop_guard(tmp_path):
    """Zipf-shaped data triggers the reference encoder's unguarded
    5-bit patch-list edge (pl==0); the interop writer must re-route
    those blocks so external readers accept the file."""
    rng = np.random.default_rng(11)
    flat = ((rng.zipf(1.3, 500_000) - 1) % 50257).astype(np.int32)
    tbl = pa.table({"tok": pa.array(flat)})
    path = str(tmp_path / "tokens.orc")
    write_orc(path, tbl, compression=1)
    _assert_tables_equal(po.ORCFile(path).read(), tbl, "tokens")


def test_write_empty_and_tiny(tmp_path):
    tbl = pa.table({"x": pa.array([], pa.int64()),
                    "s": pa.array([], pa.string())})
    path = str(tmp_path / "empty.orc")
    write_orc(path, tbl)
    got = po.ORCFile(path).read()
    assert got.num_rows == 0
    one = pa.table({"x": pa.array([42], pa.int64()),
                    "s": pa.array(["z"], pa.string())})
    path2 = str(tmp_path / "one.orc")
    write_orc(path2, one)
    _assert_tables_equal(po.ORCFile(path2).read(), one, "one")


def _check(tmp_path, tbl, name, comp=1):
    path = str(tmp_path / f"{name}.orc")
    write_orc(path, tbl, compression=comp, stripe_rows=8192)
    _assert_tables_equal(po.ORCFile(path).read(), tbl, f"{name}:pyarrow")
    _assert_tables_equal(read_orc(path), tbl, f"{name}:own")


def test_write_dictionary_strings(tmp_path):
    n = 20_000
    _check(tmp_path, pa.table({
        "cat": pa.array([["web", "code", "books", "wiki"][i % 4]
                         for i in range(n)])}), "dict")


def test_write_decimal_timestamp(tmp_path):
    import datetime
    n = 20_000
    _check(tmp_path, pa.table({
        "dec": pa.array([i - 500 for i in range(n)], pa.decimal128(12, 2)),
        "ts": pa.array([datetime.datetime(2020, 1, 1)
                        + datetime.timedelta(microseconds=i * 1000003)
                        for i in range(n)], pa.timestamp("us")),
    }), "dec_ts")


def test_write_nested(tmp_path):
    rng = np.random.default_rng(3)
    n = 20_000
    _check(tmp_path, pa.table({
        "l": pa.array([[int(x) for x in rng.integers(0, 100, i % 7)]
                       if i % 11 else None for i in range(n)],
                      pa.list_(pa.int32())),
        "st": pa.array([{"a": int(i), "b": f"x{i}"} if i % 13 else None
                        for i in range(n)],
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "m": pa.array([[("k", int(i)), ("j", int(i * 2))] if i % 3 else None
                       for i in range(n)], pa.map_(pa.string(), pa.int64())),
        "ls": pa.array([[{"q": int(i)}] * (i % 4) for i in range(n)],
                       pa.list_(pa.struct([("q", pa.int64())]))),
    }), "nested")


def test_writer_stats_and_stripe_pruning(tmp_path):
    """The writer emits per-stripe ColumnStatistics (Metadata section,
    positional by column id, sint64-zigzag ints) and the reader
    evaluates range predicates against them — the fork's
    evaluate_predicate -> skip stack at stripe granularity, on real
    ORC files our own writer produced."""
    from orc_rust_spark.sources.orc_reader import read_metadata
    n = 100_000
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"id{i:08d}" for i in range(n)]),
        "f": pa.array(np.linspace(-5, 5, n)),
    })
    path = str(tmp_path / "stats.orc")
    write_orc(path, tbl, compression=1, stripe_rows=10_000)
    meta = read_metadata(path)
    assert len(meta.stripes) == 10
    assert len(meta.stripe_stats) == 10
    assert meta.stripe_stats[3][1].range == (30_000, 39_999)
    # pyarrow's reader still accepts the file with the stats section
    assert po.ORCFile(path).read().num_rows == n
    # int predicate -> exactly one stripe decoded
    t = read_orc(path, predicate={"k": (25_000, 26_000)})
    assert t.num_rows == 10_000
    # string + projection
    t2 = read_orc(path, columns=["s"],
                  predicate={"s": ("id00055000", "id00055999")})
    assert t2.num_rows == 10_000 and t2.schema.names == ["s"]
    # float predicate and full prune
    assert read_orc(path, predicate={"f": (4.9, 5.0)}).num_rows == 10_000
    assert read_orc(path, predicate={"k": (10**9, 10**9 + 1)}).num_rows == 0
    # a double unit holding NaN records it as its max (0.6 files), so a
    # NaN-free unit's max is trusted: `gt 4.0` keeps stripe 9 (values
    # above 4.0) and the one stripe and row group holding the NaN
    from orc_rust_spark.sources.predicate import Predicate
    f = np.linspace(-5, 5, n)
    f[12_345] = np.nan
    tbl = tbl.set_column(2, "f", pa.array(f))
    for stride, decoded in ((0, 20_000), (2_500, 12_500)):
        write_orc(path, tbl, compression=1, stripe_rows=10_000,
                  row_index_stride=stride)
        meta = read_metadata(path)
        assert meta.software_version == "orc-rust-spark/0.6"
        st = meta.stripe_stats[1][3]
        assert np.isnan(st.max) and not st.may_have_nan
        assert meta.stripe_stats[8][3].range[1] < 4.0
        stats: dict = {}
        t = read_orc(path, predicate=Predicate.gt("f", 4.0), _stats=stats)
        assert stats["rows_decoded"] == decoded
        assert np.isnan(np.asarray(t.column("f"))).sum() == 1


def test_reader_prunes_pyarrow_written_stats(tmp_path):
    n = 10_000
    tbl = pa.table({"k": pa.array(np.arange(n, dtype=np.int64))})
    path = str(tmp_path / "pa.orc")
    po.write_table(tbl, path)
    got = read_orc(path, predicate={"k": (5, 10)})
    assert got.num_rows in (0, n)  # single stripe: kept (conservative)
    assert read_orc(path, predicate={"k": (10**9, None)}).num_rows == 0


def test_write_property_random_tables(tmp_path):
    """Randomized schema/content round-trips (bounded): every generated
    table must survive write -> pyarrow C++ read AND write -> own-reader
    read value-identically, across null densities and stripe splits."""
    rng = np.random.default_rng(2024)
    for trial in range(12):
        n = int(rng.integers(1, 3000))
        null_p = float(rng.choice([0.0, 0.1, 0.5]))
        cols = {}
        def nulls(vals):
            if null_p == 0.0:
                return vals
            mask = rng.random(n) < null_p
            return [None if m else v for v, m in zip(vals, mask)]
        cols["i"] = pa.array(nulls(rng.integers(-2**40, 2**40, n).tolist()),
                             pa.int64())
        cols["z"] = pa.array(nulls(((rng.zipf(1.3, n) - 1) % 50257)
                                   .astype(np.int32).tolist()), pa.int32())
        cols["s"] = pa.array(nulls([f"v{int(x)}" for x in
                                    rng.integers(0, 50, n)]), pa.string())
        cols["f"] = pa.array(nulls(rng.standard_normal(n).tolist()),
                             pa.float64())
        cols["b"] = pa.array(nulls(rng.integers(0, 2, n).astype(bool)
                                   .tolist()), pa.bool_())
        tbl = pa.table(cols)
        path = str(tmp_path / f"prop{trial}.orc")
        write_orc(path, tbl, compression=int(rng.integers(0, 2)),
                  stripe_rows=int(rng.integers(100, 2000)))
        _assert_tables_equal(po.ORCFile(path).read(), tbl, f"prop{trial}:pa")
        _assert_tables_equal(read_orc(path), tbl, f"prop{trial}:own")


def test_union_real_orc_roundtrip(tmp_path):
    """Sparse-union columns in REAL ORC files (`src/array_decoder/
    union.rs:36-163`): our writer emits the byte TAG stream + dense
    children, our reader reassembles the sparse arrow union."""
    import numpy as np
    path = str(tmp_path / "union.orc")
    n = 5_000
    tags = pa.array([i % 3 % 2 for i in range(n)], pa.int8())
    ints = pa.array(np.arange(n), pa.int64())
    strs = pa.array([f"s{i}" for i in range(n)])
    union = pa.UnionArray.from_sparse(tags, [ints, strs])
    tbl = pa.table({"k": pa.array(np.arange(n)), "u": union})
    write_orc(path, tbl)
    got = read_orc(path)
    gu = got.column("u")
    gu = gu.combine_chunks() if isinstance(gu, pa.ChunkedArray) else gu
    assert pa.types.is_union(gu.type)
    # value-level equality through the tag/child view
    for i in (0, 1, 2, 3, n - 2, n - 1):
        tag = tags[i].as_py()
        want = ints[i].as_py() if tag == 0 else strs[i].as_py()
        child = gu.field(tag)
        assert child[i].as_py() == want
    assert np.asarray(gu.type_codes).tolist() == tags.to_pylist()
    # pyarrow's independent C++ reader decodes the same union file
    eu = po.ORCFile(path).read().column("u").combine_chunks()
    assert pa.types.is_union(eu.type)
    assert np.asarray(eu.type_codes).tolist() == tags.to_pylist()
    assert eu.field(0).to_pylist()[:10] == gu.field(0).to_pylist()[:10]


def test_decimal38_write_roundtrip(tmp_path):
    """Precision > 18 decimals: int128 mantissas as UNBOUNDED zigzag
    varints — beyond the reference writer (which emits no decimals at
    all) and previously rejected here.  Verified through pyarrow's
    independent reader, our reader, and the native stripe codec."""
    import decimal
    import pyarrow.orc as po
    from orc_rust_spark import read_orc, write_orc
    from orc_rust_spark.stripes import decode_stripe, encode_stripe
    vals = [decimal.Decimal("123456789012345678901234.567890"),
            decimal.Decimal("-99999999999999999999.000001"),
            None,
            decimal.Decimal("9" * 32 + ".999999"),
            decimal.Decimal("-0.000001")]
    t = pa.table({"d": pa.array(vals, pa.decimal128(38, 6)),
                  "k": pa.array(range(5), pa.int64())})
    path = str(tmp_path / "dec38.orc")
    write_orc(path, t, compression=1)
    assert po.ORCFile(path).read().column("d").to_pylist() == vals
    assert read_orc(path).column("d").to_pylist() == vals
    blob = encode_stripe(t.to_batches()[0])
    assert decode_stripe(blob).column("d").to_pylist() == vals
