"""Predicate AST (`sources/predicate.py`) — behavioral mirror of the
reference's `src/predicate.rs` + `src/row_group_filter.rs` stats
evaluation, checked at three levels: the pure keep/skip matrix, stripe
pruning on our own written files, and the reference's own
TestOrcFile.testPredicatePushdown fixture."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from conftest import require_reference
from orc_rust_spark.sources.orc_reader import read_orc, read_metadata
from orc_rust_spark.sources.orc_writer import write_orc
from orc_rust_spark.sources.predicate import ColStats, Predicate as P

FIXTURE = ("/root/reference/tests/integration/data/"
           "TestOrcFile.testPredicatePushdown.orc")


def _stats(**cols):
    def stats_of(c):
        return cols.get(c)
    return stats_of


def test_comparison_matrix_int():
    """`row_group_filter.rs:323-355` keep/skip table on [10, 20]."""
    s = _stats(x=ColStats(10, 20, 100, False))
    assert P.eq("x", 15).evaluate(s) and not P.eq("x", 25).evaluate(s)
    assert P.ne("x", 15).evaluate(s)
    assert not P.ne("y", 7).evaluate(_stats(y=ColStats(7, 7, 5, False)))
    assert P.lt("x", 11).evaluate(s) and not P.lt("x", 10).evaluate(s)
    assert P.lte("x", 10).evaluate(s) and not P.lte("x", 9).evaluate(s)
    assert P.gt("x", 19).evaluate(s) and not P.gt("x", 20).evaluate(s)
    assert P.gte("x", 20).evaluate(s) and not P.gte("x", 21).evaluate(s)


def test_comparison_matrix_string_and_float():
    s = _stats(s=ColStats("banana", "cherry", 10, False),
               f=ColStats(1.5, 2.5, 10, False))
    assert P.eq("s", "car").evaluate(s) and not P.eq("s", "apple").evaluate(s)
    assert P.gt("s", "banana").evaluate(s)
    assert not P.gt("s", "cherry").evaluate(s)
    assert P.eq("f", 2.0).evaluate(s) and not P.eq("f", 3.0).evaluate(s)
    assert not P.lt("f", 1.5).evaluate(s) and P.lt("f", 1.6).evaluate(s)


def test_int_stats_against_float_literals_beyond_2_53():
    """Int stats meet a float literal exactly: float(2**53+3) rounds
    to 2**53+4, so float-converted bounds prune units that match."""
    big = 2**53
    s = _stats(k=ColStats(big + 3, big + 3, 10, False),
               j=ColStats(big + 5, big + 5, 10, False))
    v = float(big + 4)  # exactly representable
    assert P.lt("k", v).evaluate(s)
    assert P.lte("k", v).evaluate(s)
    assert not P.gte("k", v).evaluate(s)
    # must side: every row of k is < v, so not(k < v) matches nothing
    assert not P.not_(P.lt("k", v)).evaluate(s)
    # every row of j is > v: not(j <= v) must keep the unit
    assert P.not_(P.lte("j", v)).evaluate(s)
    assert not P.lte("j", v).evaluate(s)
    # eq keeps its epsilon widening on the may side only
    f = _stats(f=ColStats(1.0, 2.0, 10, False))
    assert P.eq("f", 2.0 + 1e-12).evaluate(f)
    assert not P.not_(P.eq("f", 1.5)).evaluate(
        _stats(f=ColStats(1.5, 1.5, 10, False)))


def test_stripe_pruning_int_column_float_literal_beyond_2_53(tmp_path):
    big = 2**53
    for k, pred in ((big + 3, P.lt("k", float(big + 4))),
                    (big + 5, P.not_(P.lte("k", float(big + 4))))):
        path = str(tmp_path / f"k{k}.orc")
        write_orc(path, pa.table({"k": pa.array([k] * 10, pa.int64())}))
        assert read_orc(path, predicate=pred).num_rows == 10


def test_null_checks_and_logic():
    s = _stats(a=ColStats(1, 5, 10, True), b=ColStats(1, 5, 0, False),
               c=ColStats(1, 5, 10, False))
    assert P.is_null("a").evaluate(s)
    assert not P.is_null("c").evaluate(s)
    assert P.is_not_null("a").evaluate(s)
    assert not P.is_not_null("b").evaluate(s)
    assert not P.and_([P.eq("a", 3), P.eq("a", 9)]).evaluate(s)
    assert P.or_([P.eq("a", 9), P.eq("a", 3)]).evaluate(s)
    assert not P.or_([P.eq("a", 9), P.eq("a", 8)]).evaluate(s)
    # Not is three-valued-sound (deviates from the reference's plain
    # negation): skips ONLY when the inner predicate provably matches
    # every row of the unit
    assert P.not_(P.eq("a", 9)).evaluate(s)
    assert P.not_(P.eq("a", 3)).evaluate(s)   # maybe-eq -> must keep
    const = _stats(c7=ColStats(7, 7, 5, False))
    assert not P.not_(P.eq("c7", 7)).evaluate(const)  # all rows == 7
    assert P.not_(P.eq("c7", 8)).evaluate(const)
    assert not P.not_(P.lte("c7", 10)).evaluate(const)
    # nulls block must-match-all: a null row never matches the inner cmp
    constn = _stats(c7=ColStats(7, 7, 5, True))
    assert P.not_(P.eq("c7", 7)).evaluate(constn)


def test_nan_bounds_prove_nothing():
    """A NaN min or max (pyarrow records a leading NaN as both) keeps
    the unit, as the Java reader does since ORC-629; flagged float
    stats keep the NaN rows that `ne` and `not` match."""
    nan = float("nan")
    assert ColStats(nan, nan, 3, False).range is None
    assert ColStats(1.0, nan, 3, False).range is None
    assert P.lt("f", 5.0).evaluate(_stats(f=ColStats(nan, nan, 3, False)))
    one = _stats(f=ColStats(1.0, 2.0, 3, False, may_have_nan=True))
    assert P.not_(P.lt("f", 5.0)).evaluate(one)
    # Spark orders NaN above every double: the NaN rows may match gt
    assert P.gt("f", 5.0).evaluate(one)
    assert P.gte("f", 5.0).evaluate(one)
    assert P.eq("f", nan).evaluate(one) and P.gte("f", nan).evaluate(one)
    nonan = _stats(f=ColStats(1.0, 2.0, 3, False))
    assert not P.gt("f", 5.0).evaluate(nonan)
    assert not P.eq("f", nan).evaluate(nonan)
    # every non-null row is < NaN in Spark, whatever the bounds
    assert P.lt("f", nan).evaluate(nonan) and P.lte("f", nan).evaluate(nonan)
    five = _stats(f=ColStats(5.0, 5.0, 3, False, may_have_nan=True))
    assert P.ne("f", 5.0).evaluate(five)
    assert not P.ne("f", 5.0).evaluate(_stats(f=ColStats(5.0, 5.0, 3, False)))


def test_all_null_unit_matches_no_comparison():
    s = _stats(x=ColStats(None, None, 0, True))
    assert not P.gte("x", 1).evaluate(s)
    assert P.is_null("x").evaluate(s)
    assert P.not_(P.gte("x", 1)).evaluate(s)


@pytest.mark.parametrize("writer", ["pyarrow", "ours"])
def test_nan_rows_survive_pruning(tmp_path, spark, writer):
    """End to end on both writers and both readers: every NaN row a
    predicate matches is still there after pruning."""
    import pyarrow.orc as po
    from pyspark.sql import functions as F
    from orc_rust_spark.sources.orc_spark import read_orc_spark
    nan = float("nan")
    cases = [  # values, predicate, numpy and Spark filters, matches
        # (one count, or the numpy and Spark counts)
        ([1.0, nan, 2.0], P.not_(P.lt("f", 5.0)),
         lambda f: ~(f < 5.0), ~(F.col("f") < 5.0), 1),
        ([5.0, nan, 5.0], P.ne("f", 5.0),
         lambda f: f != 5.0, F.col("f") != 5.0, 1),
        # Spark: NaN > 5.0; numpy (IEEE): no row is > 5.0
        ([1.0, nan, 2.0], P.gt("f", 5.0),
         lambda f: f > 5.0, F.col("f") > 5.0, (0, 1))]
    if writer == "pyarrow":  # records min = max = NaN
        cases.append(([nan, 1.0, 2.0], P.lt("f", 5.0),
                      lambda f: f < 5.0, F.col("f") < 5.0, 2))
    for i, (vals, pred, np_filter, spark_filter, n) in enumerate(cases):
        path = str(tmp_path / f"nan{i}.orc")
        tbl = pa.table({"f": vals})
        if writer == "pyarrow":
            po.write_table(tbl, path)
        else:
            write_orc(path, tbl)
        n_np, n_spark = n if isinstance(n, tuple) else (n, n)
        got = np.asarray(read_orc(path, predicate=pred).column("f"))
        assert np_filter(got).sum() == n_np, (vals, pred)
        df = read_orc_spark(spark, path, predicate=pred)
        assert df.filter(spark_filter).count() == n_spark, (vals, pred)
    # `gt 5.0` on units of 1.0s: our files record NaN as the max of the
    # one row group (and stripe) that holds it, so only that group is
    # decoded; pyarrow's leave NaN out of min/max, so all are
    vals = np.ones(4000)
    vals[10] = nan
    path = str(tmp_path / "units.orc")
    if writer == "pyarrow":
        po.write_table(pa.table({"f": vals}), path, row_index_stride=1000)
    else:
        write_orc(path, pa.table({"f": vals}), stripe_rows=2000,
                  row_index_stride=1000)
    stats: dict = {}
    got = np.asarray(read_orc(path, predicate=P.gt("f", 5.0),
                              _stats=stats).column("f"))
    assert stats["rows_decoded"] == (4000 if writer == "pyarrow" else 1000)
    assert np.isnan(got).sum() == 1
    df = read_orc_spark(spark, path, predicate=P.gt("f", 5.0))
    assert df.filter(F.col("f") > 5.0).count() == 1


def test_missing_stats_conservative():
    s = _stats()
    for p in (P.eq("zzz", 1), P.is_null("zzz"), P.not_(P.eq("zzz", 1))):
        assert p.evaluate(s)  # unknown stats never prune, even under NOT
    # type mismatch with stats never prunes
    s2 = _stats(x=ColStats("a", "b", 1, False))
    assert P.eq("x", 5).evaluate(s2)


def _write_striped(tmp_path, n=50_000, stripe_rows=10_000):
    path = str(tmp_path / "pred.orc")
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"id{i:07d}" for i in range(n)]),
    })
    write_orc(path, tbl, stripe_rows=stripe_rows)
    return path, tbl


def test_stripe_pruning_compound_predicate(tmp_path):
    path, tbl = _write_striped(tmp_path)
    # k in [12_000, 18_000] OR k >= 45_000 -> stripes 1 and 4 only
    pred = P.or_([
        P.and_([P.gte("k", 12_000), P.lte("k", 18_000)]),
        P.gte("k", 45_000),
    ])
    out = read_orc(path, predicate=pred)
    assert out.num_rows == 20_000  # stripes 1 and 4
    ks = set(np.asarray(out.column("k")).tolist())
    assert set(range(12_000, 18_001)) <= ks
    assert set(range(45_000, 50_000)) <= ks
    assert 30_000 not in ks


def test_stripe_pruning_ne_and_not(tmp_path):
    path, _ = _write_striped(tmp_path)
    # string equality prunes to one stripe
    out = read_orc(path, predicate=P.eq("s", "id0023456"))
    assert out.num_rows == 10_000
    assert out.column("k")[0].as_py() == 20_000
    # NOT over a range keeps the complement stripes
    out2 = read_orc(path, predicate=P.not_(
        P.and_([P.gte("k", 0), P.lte("k", 100_000)])))
    assert out2.num_rows == 0


def test_range_dict_back_compat(tmp_path):
    path, _ = _write_striped(tmp_path)
    out = read_orc(path, predicate={"k": (12_000, 18_000)})
    assert out.num_rows == 10_000


def test_reference_fixture_predicate_pushdown():
    """`tests/integration/main.rs:159-266`: predicate reads of the
    reference's own pushdown fixture return exactly the matching rows
    after the exact filter, and never more rows than the full read."""
    full = read_orc(require_reference(FIXTURE))
    assert full.num_rows == 3500
    pred_read = read_orc(FIXTURE, predicate=P.gt("int1", 2000))
    assert pred_read.num_rows <= full.num_rows
    import pyarrow.compute as pc
    exact = full.filter(pc.field("int1") > 2000)
    got = pred_read.filter(pc.field("int1") > 2000)
    assert got.column("int1").to_pylist() == exact.column("int1").to_pylist()
    # range + equality forms from the reference tests run clean too
    both = read_orc(FIXTURE, predicate=P.and_(
        [P.gte("int1", 1000), P.lte("int1", 5000)]))
    assert both.num_rows >= len(full.filter(
        (pc.field("int1") >= 1000) & (pc.field("int1") <= 5000)))
    read_orc(FIXTURE, predicate=P.eq("int1", 3000))


def test_stats_parse_includes_null_info(tmp_path):
    path = str(tmp_path / "nulls.orc")
    tbl = pa.table({"v": pa.array([1, None, 3, 4, None], pa.int64())})
    write_orc(path, tbl)
    meta = read_metadata(path)
    st = meta.stripe_stats[0][1]
    assert st.n_values == 3
    assert st.has_null is True
    assert st.range == (1, 4)


def test_predicate_conservative_property(tmp_path):
    """Property: pruning is CONSERVATIVE — any row group the evaluator
    skips provably contains no matching row.  Random predicates over
    random data; the evaluator's keep/skip per 1k-row stripe is checked
    against exact evaluation."""
    import random

    rng = random.Random(7)
    nprng = np.random.default_rng(7)
    n = 20_000
    k = nprng.integers(-1000, 1000, n)
    f = nprng.standard_normal(n) * 100
    s = np.array([f"w{int(x):04d}" for x in nprng.integers(0, 500, n)])
    f[nprng.random(n) < 0.05] = np.nan

    def leaf():
        col = rng.choice(["k", "f", "s"])
        op = rng.choice(["eq", "ne", "lt", "lte", "gt", "gte"])
        if col == "k":
            v = rng.randint(-1100, 1100)
        elif col == "f":
            v = rng.uniform(-500, 500)
        else:
            v = f"w{rng.randint(0, 550):04d}"
        return getattr(P, op)(col, v), (col, op, v)

    def exact_mask(node, meta):
        kind = node.kind
        if kind == "and":
            m = np.ones(n, dtype=bool)
            for c in node.children:
                m &= exact_mask(c, meta)
            return m
        if kind == "or":
            m = np.zeros(n, dtype=bool)
            for c in node.children:
                m |= exact_mask(c, meta)
            return m
        if kind == "not":
            return ~exact_mask(node.children[0], meta)
        col = {"k": k, "f": f, "s": s}[node.column]
        v = node.value
        return {
            "eq": col == v, "ne": col != v, "lt": col < v,
            "le": col <= v, "gt": col > v, "ge": col >= v,
        }[node.op]

    group = 1_000
    for trial in range(50):
        parts = [leaf()[0] for _ in range(rng.randint(1, 3))]
        pred = parts[0] if len(parts) == 1 else \
            (P.and_(parts) if rng.random() < 0.5 else P.or_(parts))
        if rng.random() < 0.3:
            pred = P.not_(pred)
        truth = exact_mask(pred, None)
        for g0 in range(0, n, group):
            sl = slice(g0, g0 + group)
            stats = {
                "k": ColStats(int(k[sl].min()), int(k[sl].max()), group, False),
                # as `_parse_col_stats` builds them: NaN left out of
                # min/max and flagged
                "f": ColStats(float(np.nanmin(f[sl])),
                              float(np.nanmax(f[sl])), group, False,
                              may_have_nan=True),
                "s": ColStats(str(min(s[sl])), str(max(s[sl])), group, False),
            }
            keep = pred.evaluate(lambda c: stats.get(c))
            if not keep:
                # three-valued NOT keeps this sound for EVERY predicate
                assert not truth[sl].any(), (trial, g0, repr(pred))
