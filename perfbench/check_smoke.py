"""Smoke test of the benchmark at tiny scale.

    python3 -m pytest -q perfbench/check_smoke.py

Runs every workload for two seconds, untraced and traced, and checks
that every metric of BENCHMARK.json is printed with its unit, that no
op failed, and that the traced counts obey their identities.  The file
name keeps it out of the repository's default test collection: it
starts Spark eight times and takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload: str, trace: int, cwd: Path = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    headline, last = proc.stdout.strip().splitlines()[-2:]
    assert len(headline) < 2000
    return json.loads(headline), json.loads(last)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    head, res = result(run(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert head["slots"] >= 1 and head["workload"] == workload
    assert (ROOT / head["sidecar"]).is_file()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_identities(workload):
    _, res = result(run(workload, 1))
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for p in ("write", "scan", "lookup"):
        # Python busy time fits in the slots the ops had
        assert m[f"{p}.python.busy_frac"] <= 1.0
        assert 0 < m[f"{p}.spark.slot_busy_frac"] <= 1.0
        assert m[f"{p}.python.busy_s"] > 0
    for p in ("scan", "lookup"):
        assert m[f"{p}.orc_reader.stripes_read"] \
            + m[f"{p}.orc_reader.stripes_skipped"] \
            == m[f"{p}.orc_spark.stripes_considered"]
        assert m[f"{p}.orc_reader.rows_returned"] \
            <= m[f"{p}.orc_reader.rows_decoded"]
    assert m["lookup.pipeline.rows_returned"] \
        <= m["lookup.pipeline.rows_decoded"]
    if workload == "tokens":
        assert m["write.stripes.encode_s"] > 0
        assert m["scan.kernels.rle_v2.decode_s"] > 0
        assert m["lookup.pipeline.stripes_decoded"] \
            <= m["lookup.pipeline.stripes_total"]
    else:
        assert m["write.orc_writer.stripes"] > 0
        assert m["lookup.orc_reader.stripes_skipped"] > 0


def test_refuses_without_package(tmp_path):
    """Outside a checkout it exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(WORKLOADS[0], 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
