"""Arrow-native parquet source (`sources/parquet_arrow.py`) and the
one-task-per-slot plan it shares with the ORC source
(`sources/task_plan.py`)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from orc_rust_spark.functions.tokens import synthesize_tokens_pandas
from orc_rust_spark.operators.encode import encode_batches
from orc_rust_spark.plans.pipeline import TOKEN_PA_SCHEMA
from orc_rust_spark.sources.orc_spark import read_orc_spark
from orc_rust_spark.sources.orc_writer import write_orc
from orc_rust_spark.sources.parquet_arrow import (read_parquet_arrow,
                                                  scan_encode_parquet)
from orc_rust_spark.sources import task_plan
from orc_rust_spark.sources.task_plan import slot_runs

N_FILES = 3
ROW_GROUP_ROWS = 40  # 120 docs per file -> 3 row groups per file


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Token parquet files of several row groups each: 9 fragments,
    more than the test session's slots."""
    d = tmp_path_factory.mktemp("corpus")
    for f in range(N_FILES):
        rows = synthesize_tokens_pandas(120, seed=5, part=f)
        offsets = np.zeros(len(rows) + 1, dtype=np.int32)
        np.cumsum([r[2] for r in rows], out=offsets[1:])
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(np.concatenate([r[1] for r in rows])))
        pq.write_table(pa.table(
            [pa.array([r[0] for r in rows]), tokens,
             pa.array([r[2] for r in rows], pa.int32()),
             pa.array([r[3] for r in rows])], schema=TOKEN_PA_SCHEMA),
            str(d / f"part-{f:03d}.parquet"), row_group_size=ROW_GROUP_ROWS)
    return str(d)


def _fragments(path):
    return [(frag.path, rg.id)
            for frag in pads.dataset(path, format="parquet").get_fragments()
            for rg in frag.row_groups]


def test_scan_encode_matches_per_fragment_encode(spark, corpus):
    """Each fragment is its own stripe stream, `part_id` = its index:
    the stripes do not depend on how fragments are packed onto tasks."""
    stripe_tokens = 3000
    want = set()
    for i, (f, rg) in enumerate(_fragments(corpus)):
        tbl = pq.ParquetFile(f).read_row_groups([rg])
        for b in encode_batches(iter(tbl.to_batches()), i, stripe_tokens):
            row = b.to_pylist()[0]
            want.add((row["stripe_id"], row["checksum"], row["output_bytes"]))
    got = {(r.stripe_id, r.checksum, r.output_bytes) for r in
           scan_encode_parquet(spark, corpus, stripe_tokens=stripe_tokens)
           .select("stripe_id", "checksum", "output_bytes").collect()}
    assert len(want) > len(_fragments(corpus))
    assert got == want


@pytest.mark.parametrize("columns", [None, ["doc_id", "n_tok"]])
def test_read_parquet_arrow_matches_pyarrow(spark, corpus, columns):
    want = pq.read_table(corpus, columns=columns)
    got = read_parquet_arrow(spark, corpus, columns=columns).toArrow()
    assert got.column_names == want.column_names
    assert got.to_pylist() == want.to_pylist()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plans_have_no_exchange_and_one_task_per_slot(spark, corpus,
                                                      tmp_path, monkeypatch):
    """Planning adds no sampling job or shuffle, and the units are packed
    onto min(units, defaultParallelism) tasks (the Spark path)."""
    monkeypatch.setattr(task_plan, "LOCAL_READ_BYTES", 0)
    slots = spark.sparkContext.defaultParallelism
    n_frag = len(_fragments(corpus))
    assert n_frag > slots
    enc = scan_encode_parquet(spark, corpus)
    assert "Exchange" not in _executed_plan(enc)
    assert enc.rdd.getNumPartitions() == min(n_frag, slots)

    orc_dir = tmp_path / "orc"
    orc_dir.mkdir()
    for f in range(3):
        write_orc(str(orc_dir / f"part-{f}.orc"),
                  pa.table({"k": np.arange(f * 100, f * 100 + 100)}))
    df = read_orc_spark(spark, str(orc_dir))
    assert "Exchange" not in _executed_plan(df)
    assert df.rdd.getNumPartitions() == min(3, slots)
    assert sorted(r.k for r in df.collect()) == list(range(300))


def test_slot_runs_contiguous_balanced_nonempty():
    assert slot_runs([1] * 16, 4) == [(0, 4), (4, 8), (8, 12), (12, 16)]
    # a heavy unit gets a run of its own; no run is empty
    assert slot_runs([100, 1, 1, 1], 4) == [(0, 1), (1, 2), (2, 3), (3, 4)]
    assert slot_runs([1, 1, 1, 100], 2) == [(0, 3), (3, 4)]
    assert slot_runs([0, 0, 0, 0], 2) == [(0, 2), (2, 4)]
