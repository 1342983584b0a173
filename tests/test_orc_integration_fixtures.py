"""Parity sweep over the reference's INTEGRATION fixture corpus
(`/root/reference/tests/integration/data/*.orc`) — a second,
independent set beyond the 17 basic fixtures of `test_orc_interop.py`:
v0.11 files (RLEv1 timestamps/decimals), legacy unlimited decimals,
Java-written unions with PRESENT, pre-1900/post-2038 dates, row-index
files, and bloom-filter files.  Every fixture both readers can open
must decode value-identical (union columns compared at tag-selected
slots — sparse-union don't-care slots are undefined)."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pytest

po = pytest.importorskip("pyarrow.orc")

from conftest import require_reference
from orc_rust_spark.sources.orc_reader import read_orc

DATA = "/root/reference/tests/integration/data"

# without the corpus, one case ("") skips naming the missing directory
FIXTURES = sorted(os.path.basename(f)
                  for f in glob.glob(os.path.join(DATA, "*.orc"))) or [""]


@pytest.mark.parametrize("name", FIXTURES)
def test_integration_fixture_parity(name):
    path = require_reference(os.path.join(DATA, name))
    try:
        ext = po.ORCFile(path).read()
    except Exception as e:
        pytest.skip(f"pyarrow cannot read {path}: {type(e).__name__}")
    try:
        ours = read_orc(path)
    except ValueError as e:
        if "overflow" not in str(e):
            raise
        # timestamps beyond ±292 years (timestamps_0001.orc): we follow
        # the reference and ERROR at int64-ns
        # (`src/encoding/timestamp.rs:179-190`, overflowing_timestamps
        # test) where pyarrow silently WRAPS.  Parity still holds
        # exactly: the lossless Decimal128(38,9) read, wrapped to
        # int64, must reproduce pyarrow's wrapped nanoseconds.
        ours = read_orc(path, timestamp_precision="decimal")
    assert ours.num_rows == ext.num_rows
    for c in ext.column_names:
        a = ours.column(c).combine_chunks()
        b = ext.column(c).combine_chunks()
        if (pa.types.is_decimal(a.type) and a.type.scale == 9
                and pa.types.is_timestamp(b.type)):
            got = [None if d is None
                   else (int(d.scaleb(9)) + 2**63) % 2**64 - 2**63
                   for d in a.to_pylist()]
            want = b.cast(pa.int64()).to_pylist()
            assert got == want, f"{name}:{c} wrapped-ns values differ"
            continue
        if pa.types.is_union(a.type):
            ta = np.asarray(a.type_codes)
            tb = np.asarray(b.type_codes)
            assert ta.tolist() == tb.tolist(), f"{name}:{c} tags"
            for ci in range(a.type.num_fields):
                av = a.field(ci).to_pylist()
                bv = b.field(ci).to_pylist()
                sel = np.nonzero(ta == ci)[0]
                assert [av[i] for i in sel] == [bv[i] for i in sel], \
                    f"{name}:{c} child {ci}"
            continue
        if a.type != b.type:
            a = a.cast(b.type)
        assert a == b, f"{name}:{c} values differ"


def test_non_struct_root_timestamp():
    """ORC files whose root type is not a struct (bare `timestamp`)
    decode as a single `_col0` column — BEYOND the reference, which
    #[ignore]s this fixture ("Non-struct root type are not supported
    yet", tests/integration/main.rs) and beyond pyarrow, which rejects
    it.  Ground truth: the reference's own expected_file_output."""
    import gzip
    import json
    path = require_reference(
        os.path.join(DATA, "TestOrcFile.testTimestamp.orc"))
    expf = require_reference(os.path.join(
        DATA, "expected", "TestOrcFile.testTimestamp.jsn.gz"))
    t = read_orc(path)
    assert t.column_names == ["_col0"]
    with gzip.open(expf, "rt") as f:
        exp = [json.loads(line) for line in f]
    assert t.num_rows == len(exp)

    def ns_of(s: str) -> int:
        import datetime as dt
        date, frac = s.split(".")
        base = dt.datetime.strptime(date, "%Y-%m-%d %H:%M:%S")
        base = base.replace(tzinfo=dt.timezone.utc)
        return int(base.timestamp()) * 10**9 + int(frac.ljust(9, "0"))

    got = t.column(0).cast(pa.int64()).to_pylist()
    assert got == [ns_of(s) for s in exp]


def test_non_struct_root_int():
    """Bare-bigint root (testWithoutCompressionBlockSize): 100 rows
    1..100 as `_col0` (no reference expected file; the content is the
    documented fixture shape)."""
    path = require_reference(os.path.join(
        DATA, "TestOrcFile.testWithoutCompressionBlockSize.orc"))
    t = read_orc(path)
    assert t.column_names == ["_col0"]
    assert t.column(0).to_pylist() == list(range(1, 101))


def test_zero_byte_file_clear_error():
    """zero.orc is a 0-byte file: the reader must fail with a clear
    not-an-ORC-file error, not an index crash (pyarrow: 'File size too
    small')."""
    path = require_reference(os.path.join(DATA, "zero.orc"))
    with pytest.raises(ValueError, match="not an ORC file"):
        read_orc(path)
