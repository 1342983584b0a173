"""Distributed ORC source/sink (`sources/orc_spark.py`): the reference
ArrowWriter/ArrowReader surface at the DataFrame level."""

from __future__ import annotations

import glob
from collections import Counter

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


def test_byte_budget_on_mixed_widths(spark, tmp_path):
    """Narrow rows, then wide ones, under a small stripe_bytes: each
    stripe's estimated bytes (every row counting its input batch's
    Arrow bytes per row) stay within one row of the budget, and every
    row is written once, in order."""
    import numpy as np
    from orc_rust_spark.sources.orc_reader import read_orc

    budget = 64 * 1024
    df = spark.range(0, 3000, 1, 1).select(
        "id", F.when(F.col("id") < 2000, F.lit("n"))
        .otherwise(F.expr("repeat('w', 2000)")).alias("s"))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "250")
    try:
        # the batches the sink sees: the same plan under the same conf
        sizes = df.mapInArrow(
            lambda it: (pa.record_batch(
                [pa.array([b.num_rows]), pa.array([b.nbytes])],
                names=["rows", "nbytes"]) for b in it),
            "rows long, nbytes long").collect()
        m = write_orc_spark(df, str(tmp_path / "mixed"), compression=0,
                            stripe_rows=1 << 20, stripe_bytes=budget) \
            .collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    est = np.concatenate([np.full(r.rows, r.nbytes / r.rows) for r in sizes])
    assert len(m) == 1 and len(est) == 3000
    rows = orc_file_stats(m[0].path)["stripe_rows"]
    assert len(rows) >= 10, rows
    ends = np.cumsum(rows)
    for i, (a, b) in enumerate(zip(ends - rows, ends)):
        assert est[a:b - 1].sum() < budget, (i, rows)
        if i < len(rows) - 1:
            assert est[a:b].sum() >= budget - 1, (i, rows)
    ids = read_orc(m[0].path).column("id").to_pylist()
    assert ids == list(range(3000))


# --- the parquet bypass and the stripe cut -------------------------------

def _lineitem_like(n: int, seed: int = 3) -> "pa.Table":
    import numpy as np
    rng = np.random.default_rng(seed)
    v = rng.integers(-1000, 1000, n).astype(np.int32)
    day0 = np.datetime64("2020-01-01", "us")
    return pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "v": pa.array(v, pa.int32(), mask=v % 7 == 0),
        "x": rng.random(n),
        "s": pa.array(np.array(["a", "bb", "ccc"])[rng.integers(0, 3, n)]),
        "ts": pa.array(day0 + rng.integers(0, 10**12, n)
                       * np.timedelta64(1, "us"), pa.timestamp("us")),
    })


def _write_parquet(d, tables, **kw) -> str:
    import os
    import pyarrow.parquet as pq
    os.makedirs(d, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(d, f"part-{i:03d}.parquet"), **kw)
    return str(d)


def _reads_parquet_in_spark(manifest) -> bool:
    """True when the write's plan holds Spark's own parquet scan (the
    mapInArrow path), False for the bare-scan path."""
    plan = manifest._jdf.queryExecution().executedPlan().toString()
    return "FileScan parquet" in plan


def _stripe_rows(manifest_rows) -> list[list[int]]:
    return [orc_file_stats(r.path)["stripe_rows"]
            for r in sorted(manifest_rows, key=lambda r: r.path)]


def test_bare_parquet_scan_writes_the_mapinarrow_bytes(spark, tmp_path):
    d = _write_parquet(tmp_path / "src", [_lineitem_like(50_000)])
    kw = dict(compression=1, stripe_rows=16384, row_index_stride=4096)
    bare = write_orc_spark(spark.read.parquet(d), str(tmp_path / "a"), **kw)
    one = write_orc_spark(spark.read.parquet(d).coalesce(1),
                          str(tmp_path / "b"), **kw)
    assert not _reads_parquet_in_spark(bare)
    assert _reads_parquet_in_spark(one)
    (fa,), (fb,) = bare.collect(), one.collect()
    assert fa.n_rows == fb.n_rows == 50_000
    with open(fa.path, "rb") as a, open(fb.path, "rb") as b:
        assert a.read() == b.read()


def test_bare_parquet_scan_runs_per_slot(spark, tmp_path):
    """Eight row groups over two files: one file per slot (at most
    eight), each a contiguous run of row groups, together every row
    once."""
    t = _lineitem_like(40_000)
    d = _write_parquet(tmp_path / "src", [t.slice(0, 20_000),
                                          t.slice(20_000)],
                       row_group_size=5_000)
    m = write_orc_spark(spark.read.parquet(d), str(tmp_path / "o"),
                        compression=0, stripe_rows=4096).collect()
    assert len(m) == min(8, spark.sparkContext.defaultParallelism)
    got = pa.concat_tables(po.ORCFile(r.path).read()
                           for r in sorted(m, key=lambda r: r.path))
    assert got.column("k").to_pylist() == list(range(40_000))
    assert got.column("v").to_pylist() == t.column("v").to_pylist()


def test_bare_parquet_scan_reads_a_repeated_path_twice(spark, tmp_path):
    """`spark.read.parquet(f, f)` scans f twice; so does the write."""
    d = _write_parquet(tmp_path / "src", [_lineitem_like(2_000)])
    f = glob.glob(d + "/*.parquet")[0]
    df = spark.read.parquet(f, f)
    m = write_orc_spark(df, str(tmp_path / "o"), compression=0)
    assert not _reads_parquet_in_spark(m)
    assert sum(r.n_rows for r in m.collect()) == df.count() == 4_000


def _fallback_inputs(spark, tmp_path):
    import os
    import pyarrow.parquet as pq
    t = _lineitem_like(3_000)
    d = _write_parquet(tmp_path / "plain", [t])
    yield "projection", spark.read.parquet(d).select("k", "s")
    yield "filter", spark.read.parquet(d).filter(F.col("v") > 0)
    part = tmp_path / "parted" / "k=1"
    _write_parquet(part, [t.drop_columns(["k"])])
    yield "partitioned", spark.read.parquet(str(tmp_path / "parted"))
    yield "user schema", spark.read.schema("v INT, k BIGINT").parquet(d)
    mixed = _write_parquet(tmp_path / "mixed",
                           [t.slice(0, 1500), t.slice(1500)
                            .drop_columns(["s"])])
    yield "schemas disagree", \
        spark.read.option("mergeSchema", "true").parquet(mixed)
    legacy = tmp_path / "legacy"
    os.makedirs(legacy)
    f = str(legacy / "part-000.parquet")
    pq.write_table(t.replace_schema_metadata(
        {"org.apache.spark.legacyDateTime": ""}), f)
    assert b"org.apache.spark.legacyDateTime" in \
        pq.ParquetFile(f).metadata.metadata
    yield "legacy calendar", spark.read.parquet(str(legacy))


def test_other_inputs_take_the_mapinarrow_path(spark, tmp_path):
    for label, df in _fallback_inputs(spark, tmp_path):
        out = str(tmp_path / ("out_" + label.replace(" ", "_")))
        m = write_orc_spark(df, out, compression=1, stripe_rows=1024)
        assert _reads_parquet_in_spark(m), label
        rows = m.collect()
        assert sum(r.n_rows for r in rows) == df.count(), label
        got = pa.concat_tables(po.ORCFile(r.path).read() for r in rows)
        assert got.column_names == df.columns, label
        want = Counter(tuple(r) for r in df.collect())
        assert Counter(zip(*(got.column(c).to_pylist()
                             for c in df.columns))) == want, label


def test_stripes_do_not_follow_input_batches(spark, tmp_path):
    """10,000-row input batches (Arrow batches on the mapInArrow path,
    row groups on the bare path) against stripe_rows=16384: in every
    file, every stripe but the last holds 16,384 rows."""
    d = _write_parquet(tmp_path / "src", [_lineitem_like(100_000)],
                       row_group_size=10_000)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        for label, df in (("bare", spark.read.parquet(d)),
                          ("mapInArrow", spark.read.parquet(d).coalesce(1))):
            m = write_orc_spark(df, str(tmp_path / label), compression=0,
                                stripe_rows=16384).collect()
            assert sum(r.n_rows for r in m) == 100_000, label
            for rows in _stripe_rows(m):
                assert rows[:-1] == [16384] * (len(rows) - 1), (label, rows)
                assert 0 < rows[-1] <= 16384, (label, rows)
            if label == "mapInArrow":
                assert len(rows) == 7, rows
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
