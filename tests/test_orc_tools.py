"""CLI tools (`sources/orc_tools.py`) — the `src/bin/orc-{export,
metadata,stats}.rs` analogs, driven through main() and the module
entrypoint."""

from __future__ import annotations

import io
import json
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.sources.orc_tools import main
from orc_rust_spark.sources.orc_writer import write_orc


@pytest.fixture()
def orc_file(tmp_path):
    path = str(tmp_path / "t.orc")
    tbl = pa.table({
        "k": pa.array(np.arange(1000, dtype=np.int64)),
        "s": pa.array([f"v{i}" if i % 5 else None for i in range(1000)]),
    })
    write_orc(path, tbl, stripe_rows=400)
    return path


def _run(argv):
    out = io.StringIO()
    assert main(argv, out=out) == 0
    return out.getvalue()


def test_metadata(orc_file):
    text = _run(["metadata", orc_file, "-s"])
    assert "number of rows: 1000" in text
    assert "number of stripes: 3" in text
    assert "k: bigint" in text and "s: string" in text
    assert "stripe index: 2" in text


def test_stats(orc_file, tmp_path):
    text = _run(["stats", orc_file])
    assert "column: k" in text
    assert "* Minimum: 0" in text and "* Maximum: 999" in text
    assert "* Has nulls: true" in text  # the s column
    # a stripe holding NaN records NaN as its max, in either stripe order
    for vals in ([1.0, np.nan, 2.0, 3.0], [2.0, 3.0, 1.0, np.nan]):
        path = str(tmp_path / "nan.orc")
        write_orc(path, pa.table({"f": vals}), stripe_rows=2)
        assert "* Maximum: nan" in _run(["stats", path])


def test_export_csv_and_json(orc_file):
    csv = _run(["export", orc_file, "-n", "3"])
    lines = csv.strip().splitlines()
    assert lines[0].replace('"', "") == "k,s"
    assert lines[1].startswith("0,")
    js = _run(["export", orc_file, "-f", "json", "-n", "2", "-c", "k"])
    rows = [json.loads(x) for x in js.strip().splitlines()]
    assert rows == [{"k": 0}, {"k": 1}]


def test_module_entrypoint(orc_file):
    r = subprocess.run(
        [sys.executable, "-m", "orc_rust_spark.sources.orc_tools",
         "metadata", orc_file],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0
    assert "number of stripes" in r.stdout


def test_corrupt_orc_raises_cleanly(tmp_path, orc_file):
    """Truncated or mangled real ORC files raise clean errors, not
    garbage output (corrupt-input discipline of tests/test_corrupt.py
    applied to the real-ORC surface)."""
    from orc_rust_spark.sources.orc_reader import read_metadata, read_orc
    data = open(orc_file, "rb").read()

    half = tmp_path / "half.orc"
    half.write_bytes(data[: len(data) // 2])
    with pytest.raises(Exception):
        read_orc(str(half))

    noise = tmp_path / "noise.orc"
    noise.write_bytes(b"ORC" + b"\x13\x37" * 400)
    with pytest.raises(Exception):
        read_metadata(str(noise))

    # flip bytes inside the first stripe: decode must not return wrong
    # silently — either a raised error or values differing from truth is
    # acceptable; what is NOT acceptable is a crash-less wrong SUCCESS
    # that equals the original (that would mean the bytes don't matter)
    mang = bytearray(data)
    mang[200:220] = b"\x00" * 20
    bad = tmp_path / "bad.orc"
    bad.write_bytes(bytes(mang))
    try:
        t = read_orc(str(bad))
        orig = read_orc(orc_file)
        assert not t.equals(orig)
    except Exception:
        pass


def test_export_feather_roundtrip(orc_file, tmp_path):
    """`export -f feather` parity with the reference CLI's feather
    output (`src/bin/orc-export.rs:80`): the written file reads back
    value-identical through pyarrow's independent feather reader."""
    import pyarrow.feather as pafeather
    from orc_rust_spark.sources.orc_reader import read_orc

    out = str(tmp_path / "t.feather")
    assert main(["export", orc_file, "-f", "feather", "-o", out]) == 0
    got = pafeather.read_table(out)
    want = read_orc(orc_file)
    assert got.equals(want)

    # projected + row-limited export round-trips too
    out2 = str(tmp_path / "t2.feather")
    assert main(["export", orc_file, "-f", "feather", "-o", out2,
                 "-n", "10", "-c", "k"]) == 0
    got2 = pafeather.read_table(out2)
    assert got2.column_names == ["k"]
    assert got2.num_rows == 10

    # binary format without -o is a clean error, not garbage on stdout
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["export", orc_file, "-f", "feather"])
