"""Sub-stripe row-group statistics + selective decode
(`src/row_index.rs` / `src/row_group_filter.rs` analog): groups whose
min/max can't intersect the predicate are skipped without touching
their bytes, and the decoded-row count actually shrinks."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.sources.predicate import Predicate
from orc_rust_spark.stripes import (
    decode_stripe_rowgroups,
    encode_stripe_rowgroups,
    stripe_num_rows,
)


def _batch(n=50_000, seed=1):
    rng = np.random.default_rng(seed)
    return pa.record_batch({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array(rng.integers(0, 1000, n).astype(np.int32)),
        "s": pa.array([f"id{i:08d}" for i in range(n)]),
        "f": pa.array(rng.standard_normal(n)),
    })


def test_rowgroup_roundtrip_full():
    b = _batch()
    blob = encode_stripe_rowgroups(b, group_rows=8000)
    out = decode_stripe_rowgroups(blob)
    assert out.num_rows == b.num_rows
    assert out.column("k").to_pylist() == b.column("k").to_pylist()
    assert out.column("s").to_pylist() == b.column("s").to_pylist()
    assert stripe_num_rows(blob) == b.num_rows


def test_rowgroup_pruned_decode_skips_bytes():
    b = _batch()
    blob = encode_stripe_rowgroups(b, group_rows=5000)
    stats: dict = {}
    out = decode_stripe_rowgroups(blob, predicate={"k": (12_000, 14_000)},
                                  _stats=stats)
    # only the one group containing [12000, 14000] may decode (boundary
    # groups included); the other 9 are skipped without being read
    assert stats["groups_total"] == 10
    assert stats["groups_decoded"] <= 2
    assert stats["rows_decoded"] < b.num_rows / 2
    k = np.asarray(out.column("k"))
    # returned superset covers every matching row
    assert set(range(12_000, 14_001)) <= set(k.tolist())


def test_rowgroup_string_predicate():
    b = _batch()
    blob = encode_stripe_rowgroups(b, group_rows=5000)
    stats: dict = {}
    out = decode_stripe_rowgroups(
        blob, predicate={"s": ("id00042000", "id00042999")}, _stats=stats)
    assert stats["groups_decoded"] == 1
    vals = set(out.column("s").to_pylist())
    assert {f"id{i:08d}" for i in range(42_000, 43_000)} <= vals


def test_rowgroup_empty_string_bounds():
    # "" and a missing value both store a zero-length bound; a group
    # whose min is "" must not read as all-null and be pruned
    for t in (pa.string(), pa.large_string()):
        s = pa.array(["", "b", "", None, "", ""], t)
        blob = encode_stripe_rowgroups(pa.record_batch({"s": s}),
                                       group_rows=2)
        out = decode_stripe_rowgroups(blob, predicate={"s": ("a", "c")})
        assert "b" in out.column("s").to_pylist()
        out = decode_stripe_rowgroups(blob, predicate=Predicate.eq("s", ""))
        assert out.column("s").to_pylist().count("") == 4


def test_rowgroup_float_and_negative_int_order():
    # decimal-string ordering bugs would prune matching groups here
    n = 20_000
    b = pa.record_batch({
        "x": pa.array(np.arange(-n // 2, n // 2, dtype=np.int64)),
        "y": pa.array(np.linspace(-5.0, 5.0, n)),
    })
    blob = encode_stripe_rowgroups(b, group_rows=2000)
    stats: dict = {}
    out = decode_stripe_rowgroups(blob, predicate={"x": (-9_999, -9_000)},
                                  _stats=stats)
    assert stats["groups_decoded"] == 1
    assert -9_500 in set(out.column("x").to_pylist())
    stats2: dict = {}
    out2 = decode_stripe_rowgroups(blob, predicate={"y": (-0.01, 0.01)},
                                   _stats=stats2)
    assert stats2["groups_decoded"] <= 2
    ys = np.asarray(out2.column("y"))
    assert ((ys >= -0.51) & (ys <= 0.51)).any()
    # signed zeros compare equal: 0.0 <= -0.0 and -0.0 >= 0.0
    for x, bounds in (([0.0] * 10 + [5.0] * 10, (None, -0.0)),
                      ([-0.0] * 10 + [-5.0] * 10, (0.0, None))):
        blob = encode_stripe_rowgroups(pa.record_batch({"x": x}),
                                       group_rows=10)
        out3 = decode_stripe_rowgroups(blob, predicate={"x": bounds})
        assert out3.num_rows == 10


def test_rowgroup_nan_group_kept_under_spark_order():
    """Spark orders NaN above every double: a group holding NaN may
    match `x > 5.0` whatever its other values; a NaN-free group whose
    max is below 5.0 is still pruned."""
    nan = float("nan")
    blob = encode_stripe_rowgroups(
        pa.record_batch({"x": [1.0, nan, 2.0, -5.0, -4.0, -3.0]}),
        group_rows=3)
    stats: dict = {}
    out = decode_stripe_rowgroups(blob, predicate=Predicate.gt("x", 5.0),
                                  _stats=stats)
    assert stats["groups_decoded"] == 1
    assert np.isnan(np.asarray(out.column("x"))).sum() == 1


def test_rowgroup_prune_everything():
    b = _batch(n=10_000)
    blob = encode_stripe_rowgroups(b, group_rows=2000)
    stats: dict = {}
    out = decode_stripe_rowgroups(blob, predicate={"k": (10**9, 10**9 + 5)},
                                  _stats=stats)
    assert stats["groups_decoded"] == 0
    assert out.num_rows == 0
    assert out.schema.names == b.schema.names


def test_rowgroup_projection():
    b = _batch(n=10_000)
    blob = encode_stripe_rowgroups(b, group_rows=4000)
    out = decode_stripe_rowgroups(blob, columns=["k", "s"],
                                  predicate={"k": (2_000, 2_500)})
    assert out.schema.names == ["k", "s"]


_NAN = float("nan")


@pytest.mark.parametrize("container", ["orc_stripes", "orc_row_index",
                                       "ospr_groups"])
@pytest.mark.parametrize("unit0,unit1,atype,pred,kept", [
    # all-NaN unit: a NaN max keeps it for `gt` and for `eq NaN`
    ([_NAN, _NAN], [1.0, 2.0], pa.float64(), Predicate.gt("x", 5.0), {0}),
    ([_NAN, _NAN], [1.0, 2.0], pa.float64(), Predicate.eq("x", _NAN), {0}),
    # the max of [-0.0, 0.0] is -0.0, which `ge 0.0` still keeps
    ([-0.0, 0.0], [-2.0, -1.0], pa.float64(), Predicate.gte("x", 0.0), {0}),
    # all-null unit: every comparison prunes it, `is_null` keeps it
    ([None, None], [1, 2], pa.int64(), Predicate.gt("x", 0), {1}),
    ([None, None], [1, 2], pa.int64(), Predicate.is_null("x"), {0}),
    # a "" minimum is a bound, not a missing one
    (["", "b"], ["x", "y"], pa.string(), Predicate.eq("x", ""), {0}),
    (["", "b"], ["x", "y"], pa.string(), Predicate.lt("x", "a"), {0}),
    # int8 units carry IntegerStatistics in every container
    ([1, 2], [10, 20], pa.int8(), Predicate.gt("x", 5), {1}),
], ids=["all_nan_gt", "all_nan_eq_nan", "signed_zero_ge", "all_null_gt",
        "all_null_is_null", "empty_string_eq", "empty_string_lt",
        "int8_gt"])
def test_edge_units_prune_alike(tmp_path, container, unit0, unit1, atype,
                                pred, kept):
    """The edge units of the one statistics path (`unit_stats` ->
    ColumnStatistics -> `_parse_col_stats`), as ORC stripes, ORC row
    groups and native row groups: each container keeps exactly the
    units `kept` names."""
    from orc_rust_spark.sources.orc_reader import read_orc
    from orc_rust_spark.sources.orc_writer import write_orc
    tbl = pa.table({"x": pa.array(unit0 + unit1, atype),
                    "u": pa.array([0, 0, 1, 1], pa.int32())})
    if container == "ospr_groups":
        out = decode_stripe_rowgroups(encode_stripe_rowgroups(
            tbl.to_batches()[0], group_rows=2), predicate=pred)
    else:
        path = str(tmp_path / "edge.orc")
        if container == "orc_stripes":
            write_orc(path, tbl, stripe_rows=2)
        else:
            write_orc(path, tbl, stripe_rows=4, row_index_stride=2)
        out = read_orc(path, predicate=pred)
    assert set(out.column("u").to_pylist()) == kept
