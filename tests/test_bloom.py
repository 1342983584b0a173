"""ORC bloom filters: hashing ground truth against bitsets written by
trusted independent writers, scalar/vectorized parity, write->read
pruning soundness, and the provenance gates that keep untrusted blooms
from pruning."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as po
import pytest

from conftest import require_reference
from orc_rust_spark import read_orc, write_orc
from orc_rust_spark.kernels.bloom import (
    BloomFilter, hash_arrow_array, hash_value, murmur3_hash64,
    murmur3_hash64_many, wang_hash64)
from orc_rust_spark.kernels.compression import decompress_stream
from orc_rust_spark.sources import orc_reader as R
from orc_rust_spark.sources.orc_format import (
    TK_LONG, TK_STRING, K_BLOOM_FILTER, K_BLOOM_FILTER_UTF8)
from orc_rust_spark.sources.predicate import ColStats, Predicate

BAD_BLOOM = ("/root/reference/tests/integration/data/"
             "bad_bloom_filter_1.6.11.orc")
OVER1K = "/root/reference/tests/integration/data/over1k_bloom.orc"


def _fixture_bloom(path, cid, kind):
    meta = R.read_metadata(path)
    data = open(path, "rb").read()
    spans, _, _ = R._stripe_layout(data, meta, meta.stripes[0])
    off, ln = spans[(cid, kind)]
    raw = data[off: off + ln]
    if meta.compression:
        raw = decompress_stream(raw, meta.compression, meta.block_size)
    return [R._pb_parse(b) for b in R._pb_parse(raw).get(1, [])]


@pytest.fixture(scope="module")
def pa_bloom_file(tmp_path_factory):
    """The `id`/`name` values of the reference's 1.6.11 fixture, written
    by pyarrow (ORC C++ 2.x, a trusted writer) with bloom filters on
    both columns at the default 62400-bit, k=4 geometry."""
    t = pa.table({
        "id": pa.array([0, 1, 2, 3, 18000000000], pa.int64()),
        "name": pa.array(["Alice", "Bob", "a", "b", "Mike"]),
    })
    path = str(tmp_path_factory.mktemp("pa_bloom") / "ids.orc")
    po.write_table(t, path, bloom_filter_columns=[1, 2])
    assert R.read_metadata(path).blooms_trusted()
    return path


# ---------------------------------------------------------------------------
# ground truth: bitsets from a trusted independent writer
# ---------------------------------------------------------------------------

def test_fixture_long_hash_ground_truth(pa_bloom_file):
    """Every int64 value present in the pyarrow-written bloom tests
    positive under Thomas Wang hashing with Java's arithmetic shifts —
    with 20 set bits of 62400 a wrong hash function has ~1e-14 chance
    per value of passing."""
    bf = BloomFilter.from_proto(_fixture_bloom(pa_bloom_file, 1,
                                               K_BLOOM_FILTER_UTF8)[0])
    ids = np.array([0, 1, 2, 3, 18000000000], dtype=np.int64)
    assert bf.test_hashes(wang_hash64(ids)).all()
    # absent values are (overwhelmingly) negative
    absent = wang_hash64(np.arange(100, 200, dtype=np.int64))
    assert int(bf.test_hashes(absent).sum()) == 0


def test_fixture_string_hash_ground_truth(pa_bloom_file):
    """String values test positive under Murmur3-64 seed 104729 and
    negative under seed 0 — pinning both the algorithm and the seed.
    The reference's 1.6.11 fixture is checked too where it exists: its
    writer hashed strings consistently with Java, only longs not."""
    paths = [pa_bloom_file] + \
        ([BAD_BLOOM] if os.path.exists(BAD_BLOOM) else [])
    for path in paths:
        bf = BloomFilter.from_proto(_fixture_bloom(path, 2,
                                                   K_BLOOM_FILTER_UTF8)[0])
        names = ["Alice", "Bob", "a", "b", "Mike"]
        good = np.array([murmur3_hash64(s.encode()) for s in names],
                        dtype=np.uint64)
        assert bf.test_hashes(good).all(), path
        bad = np.array([murmur3_hash64(s.encode(), 0) for s in names],
                       dtype=np.uint64)
        assert int(bf.test_hashes(bad).sum()) == 0, path


def test_over1k_legacy_shape_ignored():
    """The development-era message shape (expectedEntries + fpp double
    + varint bitset) predates the standardized hashing: from_proto must
    refuse it rather than prune on an unknown hash.  No installed writer
    produces this shape, so only the reference's file can feed it."""
    pbs = _fixture_bloom(require_reference(OVER1K), 1, K_BLOOM_FILTER)
    assert pbs and all(BloomFilter.from_proto(pb) is None for pb in pbs)


@pytest.mark.parametrize("path", [OVER1K, BAD_BLOOM])
def test_reference_bloom_fixtures_untrusted(path):
    """The reference's dev-era and pre-1.6.12 C++ files are untrusted."""
    assert not R.read_metadata(require_reference(path)).blooms_trusted()


def test_provenance_gates():
    # C++ 1.6.12+ is the fix boundary (upstream ORC-1024)
    m = R.OrcMeta(0, [], [], [], writer=1, software_version="1.6.12")
    assert m.blooms_trusted()
    assert not R.OrcMeta(0, [], [], [], writer=1,
                         software_version="1.6.11").blooms_trusted()
    assert not R.OrcMeta(0, [], [], [], writer=1,
                         software_version=None).blooms_trusted()
    # Java: ORC-101 (writerVersion 5) is the utf8-consistency boundary
    assert R.OrcMeta(0, [], [], [], writer=0, writer_version=5) \
        .blooms_trusted()
    assert not R.OrcMeta(0, [], [], [], writer=0, writer_version=4) \
        .blooms_trusted()
    # unknown writers: no validated hash contract
    assert not R.OrcMeta(0, [], [], [], writer=7, writer_version=6) \
        .blooms_trusted()
    # this engine's writer: 0.4 hashed longs with logical shifts
    assert not R.OrcMeta(0, [], [], [], writer_version=6,
                         software_version="orc-rust-spark/0.4") \
        .blooms_trusted()
    assert R.OrcMeta(0, [], [], [], writer_version=6,
                     software_version="orc-rust-spark/0.5").blooms_trusted()


# ---------------------------------------------------------------------------
# kernel parity and sizing
# ---------------------------------------------------------------------------

def test_murmur_vectorized_matches_scalar():
    rng = np.random.default_rng(11)
    blobs = [rng.integers(0, 256, int(n)).astype(np.uint8).tobytes()
             for n in rng.integers(0, 40, 300)] + [b"", b"x" * 8, b"y" * 16]
    flat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    starts = np.zeros(len(blobs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    vec = murmur3_hash64_many(flat, starts, lens)
    for i, b in enumerate(blobs):
        assert int(vec[i]) == murmur3_hash64(b), (i, b)


def test_hash_arrow_array_matches_hash_value():
    ints = pa.array([None, -5, 0, 3, 2**40, None, 17], pa.int64())
    hv = hash_arrow_array(ints, TK_LONG)
    want = [hash_value(v, TK_LONG) for v in ints.to_pylist()
            if v is not None]
    assert [int(x) for x in hv] == want
    strs = pa.array(["a", None, "", "héllo", "x" * 33])
    hv = hash_arrow_array(strs, TK_STRING)
    want = [hash_value(v, TK_STRING) for v in strs.to_pylist()
            if v is not None]
    assert [int(x) for x in hv] == want


def test_build_sizing_matches_java_formula():
    bf = BloomFilter.build(10000, 0.05)
    assert bf.num_bits == 62400 and bf.k == 4  # the fixtures' geometry


# ---------------------------------------------------------------------------
# cross-writer soundness of the long hash
# ---------------------------------------------------------------------------

def _long_key_table():
    return pa.table({"k": pa.array(np.arange(-1000, 1000), pa.int64())})


def test_pyarrow_long_bloom_eq_loses_no_rows(tmp_path):
    """Regression: with logical instead of arithmetic shifts in the long
    hash, eq reads of a pyarrow-written int64 bloom lost every row for
    944 of these 2000 keys (943 of them negative).  Every key must
    return as many matching rows as a full scan."""
    t = _long_key_table()
    path = str(tmp_path / "k.orc")
    po.write_table(t, path, bloom_filter_columns=[1], row_index_stride=1000)
    assert R.read_metadata(path).blooms_trusted()
    full = read_orc(path)["k"].to_numpy()
    lost = []
    for v in range(-1000, 1000):
        got = read_orc(path, predicate=Predicate.eq("k", v))
        if got.filter(pc.equal(got["k"], v)).num_rows != \
                int((full == v).sum()):
            lost.append(v)
    assert lost == []


def test_own_long_blooms_match_pyarrow_bitsets(tmp_path):
    """`write_orc` builds each row group's int64 and string bloom with
    the same geometry (stride entries, fpp 0.05) and hashes as the ORC
    C++ writer, so the bitsets are word-for-word pyarrow's — which is
    what lets Java and C++ readers prune on them."""
    t = _long_key_table()
    t = t.append_column("s", pa.array([f"v{i}" for i in range(2000)]))
    ours = str(tmp_path / "ours.orc")
    theirs = str(tmp_path / "pa.orc")
    write_orc(ours, t, compression=1, row_index_stride=1000,
              bloom_columns=["k", "s"])
    po.write_table(t, theirs, bloom_filter_columns=[1, 2],
                   row_index_stride=1000)
    assert R.read_metadata(ours).software_version == "orc-rust-spark/0.6"
    for cid in (1, 2):
        a = [BloomFilter.from_proto(pb) for pb in
             _fixture_bloom(ours, cid, K_BLOOM_FILTER_UTF8)]
        b = [BloomFilter.from_proto(pb) for pb in
             _fixture_bloom(theirs, cid, K_BLOOM_FILTER_UTF8)]
        assert len(a) == len(b) == 2
        for x, y in zip(a, b):
            assert x.k == y.k
            assert np.array_equal(x.words, y.words), cid


# ---------------------------------------------------------------------------
# write -> read pruning
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def bloom_file(tmp_path_factory):
    rng = np.random.default_rng(5)
    n = 40000
    ids = rng.integers(0, 1_000_000, n)
    t = pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": pa.array([f"u{int(v):06d}" for v in ids % 5000]),
        "v": pa.array(rng.integers(0, 100, n), pa.int32()),
    })
    path = str(tmp_path_factory.mktemp("bloom") / "t.orc")
    write_orc(path, t, compression=1, row_index_stride=5000,
              bloom_columns=["id", "name"])
    return path, t


def test_roundtrip_pyarrow_readable(bloom_file):
    path, t = bloom_file
    got = po.ORCFile(path).read()
    assert got.equals(t.select(got.schema.names))


def test_absent_key_fully_pruned(bloom_file):
    path, t = bloom_file
    present = set(t["id"].to_pylist())
    absent = next(v for v in range(500_000, 600_000) if v not in present)
    stats = {}
    got = read_orc(path, predicate=Predicate.eq("id", absent),
                   _stats=stats)
    assert got.num_rows == 0
    assert stats.get("groups_decoded", 0) == 0  # bytes never touched


def test_present_keys_never_lost(bloom_file):
    """Soundness property: for present values (int and string), the
    predicate read returns exactly the full-scan filter result."""
    path, t = bloom_file
    ids = t["id"].to_pylist()
    for v in {ids[0], ids[1234], ids[-1]}:
        got = read_orc(path, predicate=Predicate.eq("id", v))
        assert got.filter(pc.equal(got["id"], v)).num_rows == \
            t.filter(pc.equal(t["id"], v)).num_rows
    names = t["name"].to_pylist()
    for s in {names[7], names[20000]}:
        got = read_orc(path, predicate=Predicate.eq("name", s))
        assert got.filter(pc.equal(got["name"], s)).num_rows == \
            t.filter(pc.equal(t["name"], s)).num_rows


def test_not_eq_absent_prunes_nothing_extra(bloom_file):
    """Not(eq(absent)) must keep every row: the bloom's definitely-
    absent answer proves ne matches ALL rows, and Not flips that to
    skip — exercised the other way: Not(ne(absent)) must skip all."""
    path, t = bloom_file
    present = set(t["id"].to_pylist())
    absent = next(v for v in range(500_000, 600_000) if v not in present)
    got = read_orc(path, predicate=Predicate.not_(
        Predicate.eq("id", absent)))
    assert got.num_rows == t.num_rows
    got2 = read_orc(path, predicate=Predicate.not_(
        Predicate.ne("id", absent)))
    assert got2.num_rows == 0


def test_bloom_random_predicates_sound(bloom_file):
    """Property: for random eq values (present or absent), predicate
    reads never lose matching rows."""
    path, t = bloom_file
    rng = np.random.default_rng(9)
    for v in rng.integers(0, 1_000_000, 25):
        v = int(v)
        got = read_orc(path, predicate=Predicate.eq("id", v))
        assert got.filter(pc.equal(got["id"], v)).num_rows == \
            t.filter(pc.equal(t["id"], v)).num_rows


def test_bloom_with_nulls():
    t = pa.table({"id": pa.array([1, None, 3, None, 5] * 2000,
                                 pa.int64())})
    import tempfile
    import os
    path = os.path.join(tempfile.mkdtemp(), "n.orc")
    write_orc(path, t, compression=0, row_index_stride=2500,
              bloom_columns=["id"])
    got = read_orc(path, predicate=Predicate.eq("id", 3))
    assert got.filter(pc.equal(got["id"], 3)).num_rows == 2000
    # absent value still pruned; nulls never match eq
    assert read_orc(path, predicate=Predicate.eq("id", 4)).num_rows == 0


def test_bloom_adjust_requires_nonnull_for_ne_must():
    """bloom-absent proves ne matches all rows ONLY when the unit has
    no nulls (nulls never satisfy a comparison)."""
    p = Predicate.not_(Predicate.ne("x", 7))
    st_nullable = ColStats(min=0, max=100, n_values=9, has_null=True)
    st_clean = ColStats(min=0, max=100, n_values=10, has_null=False)
    bloom_absent = (lambda col, v: False)
    # nullable unit: Not(ne) may still match (the null rows) -> keep
    assert p.evaluate(lambda c: st_nullable, bloom_absent)
    # null-free unit: ne provably matches all -> Not(ne) skips
    assert not p.evaluate(lambda c: st_clean, bloom_absent)


def test_bloom_through_compound_predicates(bloom_file):
    """Blooms must compose soundly through And/Or/Not: random compound
    predicates over the bloom columns return exactly the full-scan
    filter result."""
    path, t = bloom_file
    ids = t["id"].to_pylist()
    names = t["name"].to_pylist()
    present = set(ids)
    absent = next(v for v in range(500_000, 600_000) if v not in present)
    cases = [
        # Or of two eqs (the IN-list shape): blooms prune each branch
        (Predicate.or_([Predicate.eq("id", ids[5]),
                        Predicate.eq("id", absent)]),
         lambda d: (d["id"] == ids[5]) | (d["id"] == absent)),
        # And(eq, range): bloom on the eq leg, stats on the range leg
        (Predicate.and_([Predicate.eq("name", names[100]),
                         Predicate.gte("id", 0)]),
         lambda d: (d["name"] == names[100]) & (d["id"] >= 0)),
        # Not over Or over eq: three-valued soundness end-to-end
        (Predicate.not_(Predicate.or_([Predicate.eq("id", absent),
                                       Predicate.eq("id", ids[9])])),
         lambda d: ~((d["id"] == absent) | (d["id"] == ids[9]))),
    ]
    full = t.to_pandas()
    for pred, mask_fn in cases:
        got = read_orc(path, predicate=pred).to_pandas()
        assert int(mask_fn(got).sum()) == int(mask_fn(full).sum()), pred


def test_bloom_channel_conservative_property():
    """Property (mirrors test_predicate_conservative_property, with the
    bloom channel active): over random data, real per-group
    BloomFilters and random compound predicates, a skipped group
    provably contains no matching row and a must-match-all verdict
    means every row matches."""
    import random

    rng = random.Random(13)
    nprng = np.random.default_rng(13)
    n = 10_000
    group = 500
    k = nprng.integers(-300, 300, n).astype(np.int64)
    s = np.array([f"w{int(x):03d}" for x in nprng.integers(0, 120, n)])

    groups = []
    for g0 in range(0, n, group):
        sl = slice(g0, g0 + group)
        bk = BloomFilter.build(group, 0.05)
        bk.add_hashes(wang_hash64(k[sl]))
        bs = BloomFilter.build(group, 0.05)
        bs.add_hashes(np.array(
            [murmur3_hash64(x.encode()) for x in s[sl]], dtype=np.uint64))
        stats = {
            "k": ColStats(int(k[sl].min()), int(k[sl].max()), group, False),
            "s": ColStats(str(min(s[sl])), str(max(s[sl])), group, False),
        }
        groups.append((sl, stats, {"k": bk, "s": bs}))

    def leaf():
        if rng.random() < 0.5:
            op = rng.choice(["eq", "ne", "lt", "gt"])
            return getattr(Predicate, op)("k", rng.randint(-350, 350))
        op = rng.choice(["eq", "ne"])
        return getattr(Predicate, op)("s", f"w{rng.randint(0, 140):03d}")

    def exact(node):
        if node.kind == "and":
            m = np.ones(n, dtype=bool)
            for c in node.children:
                m &= exact(c)
            return m
        if node.kind == "or":
            m = np.zeros(n, dtype=bool)
            for c in node.children:
                m |= exact(c)
            return m
        if node.kind == "not":
            return ~exact(node.children[0])
        col = {"k": k, "s": s}[node.column]
        v = node.value
        return {"eq": col == v, "ne": col != v,
                "lt": col < v, "gt": col > v}[node.op]

    kinds = {"k": TK_LONG, "s": TK_STRING}
    for trial in range(60):
        parts = [leaf() for _ in range(rng.randint(1, 3))]
        pred = parts[0] if len(parts) == 1 else \
            (Predicate.and_(parts) if rng.random() < 0.5
             else Predicate.or_(parts))
        if rng.random() < 0.4:
            pred = Predicate.not_(pred)
        truth = exact(pred)
        for sl, stats, blooms in groups:
            def bloom_of(col, v, _b=blooms):
                h = hash_value(v, kinds[col])
                return None if h is None \
                    else _b[col].might_contain_hash(h)
            may, must = pred._evaluate3(
                lambda c: stats.get(c), bloom_of)
            if not may:
                assert not truth[sl].any(), (trial, repr(pred))
            if must:
                assert truth[sl].all(), (trial, repr(pred))


def test_untrusted_file_bloom_not_used():
    """Pyarrow-written files carry writer=1 (ORC C++) with a modern
    software version -> trusted; but a predicate eq on them must stay
    correct regardless (bloom streams absent)."""
    t = pa.table({"id": pa.array(range(10000), pa.int64())})
    import tempfile
    import os
    path = os.path.join(tempfile.mkdtemp(), "pa.orc")
    po.write_table(t, path, row_index_stride=2500)
    got = read_orc(path, predicate=Predicate.eq("id", 123))
    assert got.filter(pc.equal(got["id"], 123)).num_rows == 1
