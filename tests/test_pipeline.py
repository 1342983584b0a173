"""End-to-end Spark pipeline tests: synthesize -> encode -> manifest ->
decode -> per-row token equality; resume-from-checkpoint idempotency."""

import json
import os
import shutil

import numpy as np
import pyspark.sql.functions as F
import pytest

from orc_rust_spark.functions.tokens import (synthesize_tokens,
                                             synthesize_tokens_pandas,
                                             tokens_from_documents)
from orc_rust_spark.plans.pipeline import (
    decode_corpus,
    encode_corpus,
    read_manifest,
    verify_roundtrip,
)
from orc_rust_spark.sources import task_plan


@pytest.fixture(scope="module")
def token_df(spark):
    df = synthesize_tokens(spark, n_docs=400, seed=42, partitions=4).cache()
    df.count()
    return df


def test_synthesize_tokens_matches_pandas_generator(spark):
    """One generator call per part, whatever the slot count: more parts
    than the session's slots, of uneven sizes."""
    parts = spark.sparkContext.defaultParallelism + 3
    n_docs = 3 * parts - 1
    got = synthesize_tokens(spark, n_docs, seed=7, partitions=parts) \
        .toArrow().to_pylist()
    want = []
    for p in range(parts):
        cnt = n_docs // parts + (p < n_docs % parts)
        want += [{"doc_id": d, "tokens": t.tolist(), "n_tok": n,
                  "source": s}
                 for d, t, n, s in synthesize_tokens_pandas(cnt, 7, p)]
    assert got == want


def test_roundtrip_end_to_end(spark, token_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stripes"))
    stats = encode_corpus(token_df, out, stripe_tokens=1 << 16, partitions=4)
    assert stats["waves_run"] == 1
    res = verify_roundtrip(token_df, spark, out)
    assert res["rows"] == 400
    assert res["mismatches"] == 0


def test_manifest_lineage(spark, token_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stripes"))
    encode_corpus(token_df, out, stripe_tokens=1 << 16, partitions=4)
    m = read_manifest(spark, out).toPandas()
    assert (m.n_rows > 0).all()
    assert m.n_rows.sum() == 400
    # token counts tracked exactly
    total_tokens = token_df.agg(F.sum("n_tok")).collect()[0][0]
    assert m.n_tokens.sum() == total_tokens
    # codecs recorded per column
    codecs = json.loads(m.codecs.iloc[0])
    assert set(codecs) == {"doc_id", "tokens", "n_tok", "source"}
    # checksums unique & deterministic across a re-encode
    out2 = str(tmp_path_factory.mktemp("stripes2"))
    encode_corpus(token_df, out2, stripe_tokens=1 << 16, partitions=4)
    m2 = read_manifest(spark, out2).toPandas()
    a = m.sort_values("stripe_id").checksum.tolist()
    b = m2.sort_values("stripe_id").checksum.tolist()
    assert a == b, "stripe bytes must be a pure function of the input"


def test_resume_skips_committed_waves(spark, token_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stripes"))
    full = encode_corpus(token_df, out, stripe_tokens=1 << 16, waves=4, partitions=4)
    assert full["waves_run"] == 4
    before = read_manifest(spark, out).toPandas().sort_values("stripe_id")

    # simulate a crash after wave 1: delete waves 2,3
    shutil.rmtree(os.path.join(out, "wave=2"))
    shutil.rmtree(os.path.join(out, "wave=3"))
    resumed = encode_corpus(token_df, out, stripe_tokens=1 << 16, waves=4, partitions=4)
    assert resumed["waves_skipped"] == 2
    assert resumed["waves_run"] == 2
    after = read_manifest(spark, out).toPandas().sort_values("stripe_id")
    assert before.checksum.tolist() == after.checksum.tolist()
    assert verify_roundtrip(token_df, spark, out)["mismatches"] == 0


def test_projection_and_pruning(spark, token_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stripes"))
    encode_corpus(token_df, out, stripe_tokens=1 << 16, partitions=4)
    # column projection decodes only requested streams
    cols = decode_corpus(spark, out, columns=["doc_id", "n_tok"])
    assert cols.columns == ["doc_id", "n_tok"]
    assert cols.count() == 400
    # stripe pruning by manifest doc range
    ids = sorted(r.doc_id for r in token_df.select("doc_id").collect())
    lo, hi = ids[10], ids[50]
    pruned = decode_corpus(spark, out, doc_id_range=(lo, hi))
    assert pruned.count() == 41


def test_tokens_from_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = tokens_from_documents(docs)
    row = tok.filter(F.col("n_tok") > 0).first()
    assert row is not None
    assert all(0 <= t < 50257 for t in row.tokens)
    # deterministic
    a = tok.agg(F.sum(F.expr("aggregate(tokens, 0L, (acc, x) -> acc + x)"))).collect()[0][0]
    b = tok.agg(F.sum(F.expr("aggregate(tokens, 0L, (acc, x) -> acc + x)"))).collect()[0][0]
    assert a == b


def test_weighted_repartition_balances_token_mass(spark):
    """Skew handling (north rule): token-mass-weighted range partitioning
    must beat plain row-count range partitioning on a heavy-tailed corpus."""
    import pyarrow as pa
    from collections.abc import Iterator
    import pyspark.sql.types as T
    from orc_rust_spark.plans.pipeline import weighted_repartition

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        # only the partition holding the seed row generates (mapInArrow
        # runs the function in EVERY partition, even empty ones)
        if not any(b.num_rows for b in batches):
            return
        rng = np.random.default_rng(0)
        n = 2000
        lens = rng.integers(10, 50, n)
        lens[: n // 50] = 20_000  # 2% huge docs, clustered at the front
        for i in range(n):
            toks = rng.integers(0, 100, lens[i]).astype(np.int32)
            yield pa.record_batch(
                [pa.array([f"doc{i:08d}"]),
                 pa.array([toks.tolist()], pa.list_(pa.int32())),
                 pa.array([len(toks)], pa.int32()), pa.array(["w"])],
                names=["doc_id", "tokens", "n_tok", "source"])

    from orc_rust_spark.functions.tokens import TOKEN_SCHEMA
    df = spark.range(1).mapInArrow(gen, TOKEN_SCHEMA).cache()

    def max_share(d, parts):
        pid_mass = (d.withColumn("p", F.spark_partition_id())
                    .groupBy("p").agg(F.sum("n_tok").alias("m")).collect())
        masses = [r.m for r in pid_mass]
        return max(masses) / sum(masses)

    plain = df.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    weighted = weighted_repartition(df, 8)
    s_plain, s_weighted = max_share(plain, 8), max_share(weighted, 8)
    assert s_weighted < s_plain, (s_plain, s_weighted)
    assert s_weighted < 0.35, s_weighted  # near 1/8 ideal, tolerant
    assert weighted.count() == 2000
    # doc_id ranges stay disjoint per partition (pruning still valid)
    rows = (weighted.withColumn("p", F.spark_partition_id())
            .groupBy("p").agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .orderBy("lo").collect())
    for a, b in zip(rows, rows[1:]):
        assert a.hi < b.lo


def test_manifest_scan_prunes_blob_column(spark, token_df, tmp_path_factory):
    """Catalyst column pruning must reach the parquet scan: reading the
    manifest never fetches stripe blob bytes (the projected-streams
    analog, `src/stripe.rs:154-165`)."""
    out = str(tmp_path_factory.mktemp("stripes"))
    encode_corpus(token_df, out, stripe_tokens=1 << 16, partitions=4)
    plan = read_manifest(spark, out)._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert all("blob" not in ln for ln in scan_lines), plan
    # and a manifest-range filter is pushed down to the scan
    filtered = read_manifest(spark, out).filter(F.col("doc_id_max") >= "x")
    plan2 = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan2 and "doc_id_max" in plan2, plan2


def test_resume_after_partial_wave(spark, token_df, tmp_path_factory):
    """A wave dir without _SUCCESS (killed mid-write) is re-run and
    overwritten; committed waves are untouched."""
    import pathlib
    out = str(tmp_path_factory.mktemp("stripes"))
    encode_corpus(token_df, out, stripe_tokens=1 << 16, waves=2, partitions=4)
    committed = read_manifest(spark, out).toPandas().sort_values("stripe_id")
    # simulate a crash mid-wave: partial files, no _SUCCESS marker
    w1 = pathlib.Path(out) / "wave=1"
    shutil.rmtree(w1)
    w1.mkdir()
    (w1 / "part-garbage.parquet.tmp").write_bytes(b"partial")
    resumed = encode_corpus(token_df, out, stripe_tokens=1 << 16, waves=2,
                            partitions=4)
    assert resumed["waves_skipped"] == 1
    assert resumed["waves_run"] == 1
    after = read_manifest(spark, out).toPandas().sort_values("stripe_id")
    assert committed.checksum.tolist() == after.checksum.tolist()


def test_plan_sample_bounded_at_high_partition_counts(spark):
    """Driver-side sample rows are O(cap_total), independent of the
    input's partition count (VERDICT r2: per-partition caps alone meant
    tens of millions of driver rows at 100-TB partition counts)."""
    import pyspark.sql.functions as F
    from orc_rust_spark.plans.pipeline import _plan_sample
    df = (spark.range(0, 40_000)
          .repartition(64)
          .select(F.format_string("doc%08d", "id").alias("doc_id"),
                  (F.col("id") % 100 + 1).alias("n_tok")))
    sample = _plan_sample(df, cap_per_part=512, cap_total=1024)
    assert len(sample) <= 1024
    # weights still account for ~every input row (stage-1 strides round
    # up partial windows; the merge itself conserves weight exactly)
    assert abs(int(sample["weight"].sum()) - 40_000) / 40_000 < 0.01
    # token mass is preserved to within pairwise-merge rounding
    true_mass = 40_000 * 50.5
    est_mass = float((sample["n_tok"] * sample["weight"]).sum())
    assert abs(est_mass - true_mass) / true_mass < 0.02


# ------------------------------------------------ stripe-store reader

@pytest.fixture(scope="module")
def store(spark, token_df, tmp_path_factory):
    """Two waves of two parquet files each, two stripes per file, plus
    a stray checksum file next to the `_SUCCESS` markers Spark wrote."""
    out = str(tmp_path_factory.mktemp("store"))
    encode_corpus(token_df, out, stripe_tokens=1 << 14, waves=2,
                  partitions=4)
    for w in ("wave=0", "wave=1"):
        assert os.path.exists(os.path.join(out, w, "_SUCCESS"))
    with open(os.path.join(out, "wave=0", ".stray.crc"), "wb") as f:
        f.write(b"not parquet")
    return out


def _doc_ids(token_df):
    return sorted(r.doc_id for r in token_df.select("doc_id").collect())


def _store_reference(spark, out, columns, doc_id_range):
    """Every stripe decoded by `decode_pass`, then the row filter."""
    import pyarrow as pa
    from orc_rust_spark.functions.tokens import TOKEN_SCHEMA
    from orc_rust_spark.operators.decode import decode_pass, spark_schema_for
    from orc_rust_spark.plans.pipeline import TOKEN_PA_SCHEMA, read_stripes
    schema = TOKEN_SCHEMA if columns is None else spark_schema_for(
        pa.schema([f for f in TOKEN_PA_SCHEMA if f.name in columns]))
    df = decode_pass(read_stripes(spark, out), schema, columns)
    lo, hi = doc_id_range or (None, None)
    if lo is not None:
        df = df.filter(F.col("doc_id") >= lo)
    if hi is not None:
        df = df.filter(F.col("doc_id") <= hi)
    return df


def _rows(df):
    return sorted(df.toArrow().to_pylist(), key=lambda r: sorted(r.items()))


def _wave_max(out, wave):
    import pyarrow.parquet as pq
    return max(pq.read_table(os.path.join(out, f"wave={wave}"),
                             columns=["doc_id_max"])
               .column("doc_id_max").to_pylist())


def _one_stripe_range(spark, out, ids):
    """Two doc ids strictly inside the first stripe."""
    m = read_manifest(spark, out).orderBy("doc_id_min").first()
    assert m.n_rows >= 4
    inside = [d for d in ids if m.doc_id_min <= d <= m.doc_id_max]
    return inside[1], inside[2]


@pytest.mark.parametrize("case", [
    "all", "one_stripe", "two_waves", "open_lo", "open_hi", "projected"])
def test_decode_corpus_matches_full_decode(spark, token_df, store, case):
    """The planned store reader returns exactly the rows of a decode of
    every stripe plus the doc_id row filter."""
    ids = _doc_ids(token_df)
    k = ids.index(_wave_max(store, 0))
    columns = None
    rng = {
        "all": None,
        "one_stripe": _one_stripe_range(spark, store, ids),
        "two_waves": (ids[k - 3], ids[k + 3]),
        "open_lo": (ids[250], None),
        "open_hi": (None, ids[30]),
        "projected": (ids[120], ids[200]),
    }[case]
    if case == "projected":
        columns = ["doc_id", "n_tok"]
    got = decode_corpus(spark, store, columns=columns, doc_id_range=rng)
    want = _store_reference(spark, store, columns, rng)
    assert got.schema == want.schema
    got_rows = _rows(got)
    assert got_rows == _rows(want)
    assert got_rows


def test_decode_corpus_range_spans_waves(spark, token_df, store):
    """A range across the wave boundary plans units in both waves and
    none outside the range."""
    from orc_rust_spark.plans.pipeline import _store_units
    ids = _doc_ids(token_df)
    k = ids.index(_wave_max(store, 0))
    units, weights = _store_units(store, (ids[k - 3], ids[k + 3]))
    waves = {os.path.basename(os.path.dirname(f)) for f, _, _ in units}
    assert waves == {"wave=0", "wave=1"}
    assert all(w > 0 for w in weights)
    all_units, _ = _store_units(store, None)
    assert sum(len(r) for _, _, r in units) \
        < sum(len(r) for _, _, r in all_units)


def test_decode_corpus_no_match_is_empty(spark, store):
    """A range past every stripe plans no unit: an empty DataFrame with
    the projected schema."""
    from orc_rust_spark.plans.pipeline import _store_units
    rng = ("zzz", "zzzz")
    assert _store_units(store, rng)[0] == []
    got = decode_corpus(spark, store, columns=["doc_id", "source"],
                        doc_id_range=rng)
    assert got.columns == ["doc_id", "source"]
    assert got.schema == _store_reference(
        spark, store, ["doc_id", "source"], rng).schema
    assert got.count() == 0


def test_decode_corpus_ignores_markers_and_checksums(spark, store):
    """`_SUCCESS` and `.crc` files in a wave directory are not read as
    stripe files, as Spark's own parquet scan skips them."""
    from orc_rust_spark.plans.pipeline import _store_units
    wave0 = os.listdir(os.path.join(store, "wave=0"))
    assert "_SUCCESS" in wave0 and ".stray.crc" in wave0
    units, _ = _store_units(store, None)
    assert len(units) == 4
    assert all(os.path.basename(f).startswith("part-")
               and f.endswith(".parquet") for f, _, _ in units)
    assert decode_corpus(spark, store).count() == 400


def test_decode_corpus_one_stripe_plan(spark, token_df, store, monkeypatch):
    """On the Spark path, a lookup inside one stripe is one Spark task
    with no shuffle."""
    monkeypatch.setattr(task_plan, "LOCAL_READ_BYTES", 0)
    rng = _one_stripe_range(spark, store, _doc_ids(token_df))
    df = decode_corpus(spark, store, columns=["doc_id", "n_tok"],
                       doc_id_range=rng)
    assert df.rdd.getNumPartitions() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert df.count() == 2
