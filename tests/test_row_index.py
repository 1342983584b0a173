"""RowIndex both ways (VERDICT r2 item 4): the writer emits ROW_INDEX
streams (per-row-group positions + statistics), external readers still
accept the files, and our reader uses the index for sub-stripe
row-group skipping under a predicate AST."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

po = pytest.importorskip("pyarrow.orc")

from orc_rust_spark.sources.orc_reader import read_metadata, read_orc
from orc_rust_spark.sources.orc_writer import write_orc
from orc_rust_spark.sources.predicate import Predicate as P


def _table(n=40_000):
    rng = np.random.default_rng(11)
    return pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "f": pa.array(np.linspace(0, 1000, n)),
        "s": pa.array([f"id{i:07d}" if i % 7 else None for i in range(n)]),
        "tags": pa.array([[i % 5, i % 3] for i in range(n)],
                         pa.list_(pa.int32())),
    })


@pytest.mark.parametrize("compression", [0, 1])
def test_row_index_roundtrip_and_external_reader(tmp_path, compression):
    path = str(tmp_path / f"ri{compression}.orc")
    tbl = _table()
    write_orc(path, tbl, compression=compression, stripe_rows=20_000,
              row_index_stride=2_000)
    meta = read_metadata(path)
    assert meta.row_index_stride == 2_000
    assert all(s["index_length"] > 0 for s in meta.stripes)
    # full read is value-identical
    got = read_orc(path)
    assert got.column("k").to_pylist() == tbl.column("k").to_pylist()
    assert got.column("s").to_pylist() == tbl.column("s").to_pylist()
    assert got.column("tags").to_pylist() == tbl.column("tags").to_pylist()
    # pyarrow's independent C++ reader accepts the indexed file
    ext = po.ORCFile(path).read()
    assert ext.column("k").to_pylist() == tbl.column("k").to_pylist()


@pytest.mark.parametrize("compression", [0, 1])
def test_row_group_skip_under_predicate(tmp_path, compression):
    path = str(tmp_path / f"skip{compression}.orc")
    tbl = _table()
    write_orc(path, tbl, compression=compression, stripe_rows=20_000,
              row_index_stride=2_000)
    stats: dict = {}
    pred = P.and_([P.gte("k", 4_500), P.lte("k", 6_500)])
    out = read_orc(path, predicate=pred, _stats=stats)
    # stripe 1 is pruned by stripe stats; groups 2..3 of stripe 0 decode
    assert stats["groups_total"] == 10
    assert stats["groups_decoded"] == 2
    assert stats["rows_decoded"] == 4_000
    ks = np.asarray(out.column("k"))
    assert set(range(4_500, 6_501)) <= set(ks.tolist())
    # exact values of every decoded column survive the group slicing
    import pyarrow.compute as pc
    full = _table().filter((pc.field("k") >= 4_000) & (pc.field("k") < 8_000))
    sliced = out.filter((pc.field("k") >= 4_000) & (pc.field("k") < 8_000))
    assert sliced.column("s").to_pylist() == full.column("s").to_pylist()
    assert sliced.column("tags").to_pylist() == full.column("tags").to_pylist()
    assert sliced.column("f").to_pylist() == full.column("f").to_pylist()


def test_row_group_skip_with_or_and_strings(tmp_path):
    path = str(tmp_path / "or.orc")
    write_orc(path, _table(), stripe_rows=40_000, row_index_stride=4_000)
    stats: dict = {}
    pred = P.or_([P.lte("k", 1_000), P.eq("s", "id0030001")])
    out = read_orc(path, predicate=pred, _stats=stats)
    assert stats["groups_decoded"] == 2
    ks = set(np.asarray(out.column("k")).tolist())
    assert 500 in ks and 30_001 in ks and 20_000 not in ks


def test_no_index_falls_back(tmp_path):
    path = str(tmp_path / "noidx.orc")
    write_orc(path, _table(), stripe_rows=20_000)  # no stride
    stats: dict = {}
    out = read_orc(path, predicate=P.lte("k", 1_000), _stats=stats)
    assert "groups_total" not in stats
    assert out.num_rows == 20_000  # stripe-level pruning only


def test_row_index_stride_not_multiple_of_8(tmp_path):
    """Bit streams must stay CONTINUOUS across groups (per-group padded
    chunks corrupted every bit after group 0 when the stride wasn't a
    byte multiple — the original implementation bug)."""
    path = str(tmp_path / "odd.orc")
    n = 10_000
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "b": pa.array([bool(i % 3) for i in range(n)]),
        "s": pa.array([f"v{i}" if i % 5 else None for i in range(n)]),
    })
    write_orc(path, tbl, stripe_rows=n, row_index_stride=1_250)
    got = read_orc(path)
    assert got.column("k").to_pylist() == tbl.column("k").to_pylist()
    assert got.column("b").to_pylist() == tbl.column("b").to_pylist()
    assert got.column("s").to_pylist() == tbl.column("s").to_pylist()
    # pyarrow agrees bit-for-bit
    ext = po.ORCFile(path).read()
    assert ext.column("b").to_pylist() == tbl.column("b").to_pylist()
    assert ext.column("s").to_pylist() == tbl.column("s").to_pylist()
    # group skip still lands on exact rows mid-byte
    stats: dict = {}
    out = read_orc(path, predicate=P.and_([P.gte("k", 3_800),
                                           P.lte("k", 3_900)]),
                   _stats=stats)
    assert stats["groups_decoded"] == 1
    ks = np.asarray(out.column("k"))
    assert ks[0] == 3_750 and len(ks) == 1_250
    got_b = out.column("b").to_pylist()
    assert got_b == [bool(i % 3) for i in range(3_750, 5_000)]
    got_s = out.column("s").to_pylist()
    assert got_s == [f"v{i}" if i % 5 else None for i in range(3_750, 5_000)]


def test_row_index_with_union_column(tmp_path):
    """Row-index mode with a sparse union whose child has nulls in only
    some groups: stream sets must stay identical across groups (the
    union branch used to drop force_present for children)."""
    path = str(tmp_path / "union_ri.orc")
    n = 64
    tags = pa.array([i % 2 for i in range(n)], pa.int8())
    floats = pa.array([None if i >= 32 or i % 2 else float(i)
                       for i in range(n)], pa.float64())
    strs = pa.array([f"s{i}" for i in range(n)])
    u = pa.UnionArray.from_sparse(tags, [floats, strs])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})
    write_orc(path, tbl, stripe_rows=n, row_index_stride=16)
    got = read_orc(path)
    gu = got.column("u").combine_chunks()
    assert np.asarray(gu.type_codes).tolist() == tags.to_pylist()
    # ORC stores dense children: only tag-selected slots round-trip
    got_s = [gu.field(1)[i].as_py() for i in range(1, n, 2)]
    assert got_s == [f"s{i}" for i in range(1, n, 2)]
    ev = [gu.field(0)[i].as_py() for i in range(0, n, 2)]
    assert ev == [float(i) if i < 32 else None for i in range(0, n, 2)]


def test_rle_v1_file_reads_and_prunes_like_pyarrow(tmp_path):
    """pyarrow's 0.11 writer gives RLEv1 DIRECT and DICTIONARY streams
    with the default 10000-row index stride: full reads equal pyarrow's,
    and a `k`-range read decodes one of its stripe's four row groups
    and returns exactly that group's rows."""
    from orc_rust_spark.sources.orc_format import ENC_DICT, ENC_DIRECT
    from orc_rust_spark.sources.orc_reader import _stripe_layout
    n = 240_000
    rng = np.random.default_rng(5)
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array(rng.integers(-1000, 1000, n).astype(np.int32)),
        "s": pa.array([None if i % 7 == 0 else f"w{x:03d}" for i, x in
                       enumerate(rng.integers(0, 300, n).tolist())]),
        "f": pa.array(rng.standard_normal(n)),
    })
    path = str(tmp_path / "v1.orc")
    po.write_table(tbl, path, file_version="0.11", batch_size=40_000,
                   dictionary_key_size_threshold=1.0, stripe_size=1 << 18)
    meta = read_metadata(path)
    assert meta.row_index_stride == 10_000
    assert [s["n_rows"] for s in meta.stripes] == [40_000] * 6
    with open(path, "rb") as f:
        data = f.read()
    encodings = {kind for si in meta.stripes
                 for kind, _ in _stripe_layout(data, meta, si)[1].values()}
    assert encodings == {ENC_DIRECT, ENC_DICT}
    want = po.read_table(path)
    assert read_orc(path).equals(want)
    lo, hi = 132_500, 135_000  # stripe 3, row group 1
    group = want.slice(130_000, 10_000)
    for columns in (None, ["k", "s"]):
        stats: dict = {}
        got = read_orc(path, columns=columns, predicate={"k": (lo, hi)},
                       _stats=stats)
        assert (stats["groups_decoded"], stats["groups_total"]) == (1, 4)
        assert set(range(lo, hi + 1)) <= set(got.column("k").to_pylist())
        assert got.equals(group.select(columns or group.column_names))
