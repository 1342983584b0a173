"""Distributed ORC source/sink (`sources/orc_spark.py`): the reference
ArrowWriter/ArrowReader surface at the DataFrame level."""

from __future__ import annotations

import glob

import pytest

pa = pytest.importorskip("pyarrow")
po = pytest.importorskip("pyarrow.orc")

from pyspark.sql import SparkSession
import pyspark.sql.functions as F

from orc_rust_spark.sources.orc_spark import (
    orc_file_stats,
    read_orc_spark,
    write_orc_spark,
)
from orc_rust_spark.sources import task_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    yield s


def test_write_read_roundtrip_spark(spark, tmp_path):
    out = str(tmp_path / "orc_out")
    src = spark.read.parquet(f"{SF}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    manifest = write_orc_spark(src.repartition(3), out, compression=1).collect()
    assert sum(m.n_rows for m in manifest) == src.count()
    files = sorted(glob.glob(out + "/*.orc"))
    assert len(files) == 3
    # pyarrow's independent reader accepts every part file
    assert sum(po.ORCFile(f).read().num_rows for f in files) == src.count()
    rt = read_orc_spark(spark, out)
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in rt.select(*src.columns).collect()}
    assert a == b


def test_orc_file_stats(spark, tmp_path):
    out = str(tmp_path / "orc_stats")
    src = spark.read.parquet(f"{SF}/region.parquet")
    write_orc_spark(src.coalesce(1), out, compression=0,
                    stripe_rows=2).collect()
    f = glob.glob(out + "/*.orc")[0]
    st = orc_file_stats(f)
    assert st["n_rows"] == src.count()
    assert st["compression"] == 0
    assert st["n_stripes"] >= 2  # stripe_rows=2 forces multiple stripes
    assert set(st["columns"]) == set(src.columns)


def test_read_nested_timestamp_normalizes(spark, tmp_path):
    """ns->us normalization must recurse into struct/list fields, not
    just top-level timestamps (ADVICE r2: nested ns broke the
    mapInArrow schema match)."""
    import datetime as dt
    out = str(tmp_path / "orc_nested_ts")
    import os
    os.makedirs(out)
    from orc_rust_spark.sources.orc_writer import write_orc
    ts = [dt.datetime(2020, 5, i + 1, 12, 30) for i in range(5)]
    tbl = pa.table({
        "k": pa.array(range(5), pa.int64()),
        "ev": pa.array([{"at": t, "n": i} for i, t in enumerate(ts)],
                       pa.struct([("at", pa.timestamp("us")),
                                  ("n", pa.int64())])),
        "times": pa.array([[t] for t in ts], pa.list_(pa.timestamp("us"))),
    })
    write_orc(os.path.join(out, "part-0.orc"), tbl)
    rows = read_orc_spark(spark, out).orderBy("k").collect()
    assert [r.ev.at for r in rows] == ts
    assert [r.times[0] for r in rows] == ts


def test_read_pushes_projection_through_select(spark, tmp_path):
    out = str(tmp_path / "orc_proj")
    src = spark.read.parquet(f"{SF}/nation.parquet")
    write_orc_spark(src.coalesce(1), out).collect()
    rt = read_orc_spark(spark, out).select("n_name")
    names = {r.n_name for r in rt.collect()}
    assert {r.n_name for r in src.select("n_name").collect()} == names


def test_single_file_multi_stripe_splits_to_tasks(spark, tmp_path):
    """Byte-range stripe splits: one big multi-stripe file fans out to
    several tasks instead of one task per file."""
    import numpy as np
    from orc_rust_spark.sources.orc_writer import OrcWriter
    from orc_rust_spark.sources.orc_reader import read_orc
    path = str(tmp_path / "big.orc")
    n = 200_000
    tbl = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                    "s": pa.array([f"row{i:07d}" for i in range(n)])})
    w = OrcWriter(path, tbl.schema)
    for b in tbl.to_batches(max_chunksize=20_000):
        w.write_batch(b)
    w.close()

    # kernel-level: stripe subset decodes only those rows
    sub = read_orc(path, stripe_indices=[1, 3])
    assert sub.num_rows == 40_000
    assert sub.column("k")[0].as_py() == 20_000

    df = read_orc_spark(spark, path, split_bytes=1 << 18)
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == n
    got = df.agg(F.sum("k")).collect()[0][0]
    assert got == n * (n - 1) // 2


def test_planning_time_stripe_pruning(spark, tmp_path, monkeypatch):
    """A selective predicate prunes stripes at PLANNING time: the scan
    schedules tasks only for stripes whose statistics may match, and
    an all-pruned predicate still yields an empty DataFrame with the
    right schema (no task fan-out).  Pinned on the Spark path."""
    monkeypatch.setattr(task_plan, "LOCAL_READ_BYTES", 0)
    import numpy as np
    from orc_rust_spark.sources.orc_writer import OrcWriter
    from orc_rust_spark.sources.predicate import Predicate as P
    path = str(tmp_path / "planned.orc")
    n = 100_000
    tbl = pa.table({"k": pa.array(np.arange(n, dtype=np.int64))})
    w = OrcWriter(path, tbl.schema)
    for b in tbl.to_batches(max_chunksize=20_000):
        w.write_batch(b)
    w.close()

    # one stripe matches: a single task regardless of split size
    df = read_orc_spark(spark, path, predicate=P.eq("k", 50_000),
                        split_bytes=1 << 12)
    assert df.rdd.getNumPartitions() == 1
    assert df.filter(F.col("k") == 50_000).count() == 1

    # nothing matches: empty result, schema intact, single stub task
    df0 = read_orc_spark(spark, path, predicate=P.gt("k", 10**9))
    assert df0.count() == 0
    assert df0.columns == ["k"]


def test_distributed_planning_many_files(spark, tmp_path, monkeypatch):
    """>= 64 files routes planning through the metadata fan-out job,
    which starts at most one task per slot; results (incl. predicate
    pruning) match the serial path.  Pinned on the Spark path."""
    monkeypatch.setattr(task_plan, "LOCAL_READ_BYTES", 0)
    import numpy as np
    from orc_rust_spark.sources.orc_writer import write_orc
    from orc_rust_spark.sources.predicate import Predicate as P
    d = tmp_path / "many"
    d.mkdir()
    # enough files for more than one 32-file planning task per slot
    n_files, rows = 300, 500
    for fi in range(n_files):
        base = fi * rows
        t = pa.table({"k": pa.array(
            np.arange(base, base + rows, dtype=np.int64))})
        write_orc(str(d / f"part-{fi:03d}.orc"), t)
    sc = spark.sparkContext
    sc.setJobGroup("orc-many-files-plan", "planning job")
    try:
        df = read_orc_spark(spark, str(d))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    plan_jobs = st.getJobIdsForGroup("orc-many-files-plan")
    assert len(plan_jobs) == 1
    plan_tasks = [st.getStageInfo(s).numTasks
                  for s in st.getJobInfo(plan_jobs[0]).stageIds]
    assert plan_tasks and all(n <= sc.defaultParallelism
                              for n in plan_tasks), plan_tasks
    total = n_files * rows
    assert df.count() == total
    assert df.agg(F.sum("k")).collect()[0][0] == total * (total - 1) // 2
    # predicate hits exactly two files' ranges
    hit = read_orc_spark(spark, str(d),
                         predicate=P.and_([P.gte("k", 990),
                                           P.lte("k", 1010)]))
    assert hit.rdd.getNumPartitions() == 2
    assert hit.filter((F.col("k") >= 990) & (F.col("k") <= 1010)) \
        .count() == 21


def test_write_orc_spark_byte_estimate_flush(spark, tmp_path):
    """Wide rows must produce multiple stripes without caller-side
    stripe_rows tuning (`src/arrow_writer.rs:111-122` 64 MiB analog —
    here a small budget to keep the test light)."""
    import pyspark.sql.functions as F
    from orc_rust_spark.sources.orc_spark import (orc_file_stats,
                                                  write_orc_spark)

    df = (spark.range(0, 2000, 1, 1)
          .select(F.col("id"),
                  F.expr("repeat(uuid(), 40)").alias("wide")))
    out = str(tmp_path / "wide_orc")
    manifest = write_orc_spark(df, out, compression=0, stripe_rows=1 << 20,
                               stripe_bytes=256 * 1024).collect()
    assert len(manifest) == 1
    stats = orc_file_stats(manifest[0]["path"])
    # ~1.5k-byte rows against a 256 KiB budget: several stripes, none
    # wildly above the byte budget's row estimate
    assert stats["n_stripes"] >= 4
    assert stats["n_rows"] == 2000
    assert max(stats["stripe_rows"]) <= 400
