"""The package's one stripe cut (`operators/encode.py:cut_stripes`),
tested once against a scalar statement of its rule: a stripe ends at
the first row where its running weight reaches the budget."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from orc_rust_spark.operators.encode import cut_stripes


def _reference(weights: list[int], budget: int) -> list[int]:
    """Stripe row counts by the rule, one row at a time."""
    counts, rows, run = [], 0, 0
    for w in weights:
        rows += 1
        run += w
        if run >= budget:
            counts.append(rows)
            rows = run = 0
    if rows:
        counts.append(rows)
    return counts


def _batches(weights: list[int], sizes: list[int]) -> list[pa.RecordBatch]:
    """`weights` as a `w` column (plus a row-number column), cut into
    batches of `sizes` rows; a size of 0 is an empty batch."""
    out, start = [], 0
    for n in sizes:
        out.append(pa.record_batch(
            [pa.array(np.arange(start, start + n), pa.int64()),
             pa.array(weights[start:start + n], pa.int64())],
            names=["i", "w"]))
        start += n
    return out


def _weight(batch: pa.RecordBatch) -> np.ndarray:
    return batch.column("w").to_numpy()


@st.composite
def _cases(draw):
    ones = draw(st.booleans())
    w = st.just(1) if ones else st.integers(0, 40)
    weights = draw(st.lists(w, max_size=120))
    budget = draw(st.integers(1, 150))

    def sizes():
        left, out = len(weights), []
        while left:
            n = draw(st.integers(0, left))
            out.append(n)
            left -= n
        return out + draw(st.lists(st.just(0), max_size=2))

    return ones, weights, budget, sizes(), sizes()


@settings(max_examples=300, deadline=None)
@given(_cases())
def test_cut_stripes_follows_the_rule_and_not_the_batching(case):
    ones, weights, budget, sizes_a, sizes_b = case
    weight = None if ones else _weight
    want = _reference(weights, budget)
    got = []
    for sizes in (sizes_a, sizes_b):
        stripes = list(cut_stripes(iter(_batches(weights, sizes)), budget,
                                   weight))
        assert [s.num_rows for s in stripes] == want, sizes
        rows = [i for s in stripes for i in s.column("i").to_pylist()]
        assert rows == list(range(len(weights)))
        got.append(stripes)
    # same rows, same stripes, however the input was batched
    assert [s.to_pydict() for s in got[0]] == [s.to_pydict() for s in got[1]]
