"""Stat-guarded zip importers (`orc_rust_spark/worker_init.py`).

The guard rewires the interpreter's import machinery, so its semantics
are checked in a subprocess and its installation inside real Spark
Python workers; the pytest process itself is never guarded.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# Builds a zip holding m1, imports m1 from it, imports the package, then
# reports the import machinery's state and the zip directory reads that
# invalidate_caches() makes before and after the zip gains m2.
_PROBE = r"""
import importlib, json, sys, zipfile, zipimport

zpath = sys.argv[1]


def write_zip(names):
    with zipfile.ZipFile(zpath, "w") as z:
        for n in names:
            z.writestr(n + ".py", "NAME = %r\n" % n)


write_zip(["m1"])
sys.path.insert(0, zpath)
import m1  # noqa: E402,F401

hooks = list(sys.path_hooks)
finders = dict(sys.path_importer_cache)
types = {k: type(v) for k, v in finders.items()}
import orc_rust_spark  # noqa: E402,F401

out = {
    "hooks_unchanged": sys.path_hooks == hooks,
    "cache_unchanged": all(sys.path_importer_cache.get(k) is v
                           and type(v) is types[k]
                           for k, v in finders.items()),
    "zip_types": sorted({type(v).__name__
                         for v in sys.path_importer_cache.values()
                         if isinstance(v, zipimport.zipimporter)}),
}
reads = []
read_directory = zipimport._read_directory


def counting(archive):
    reads.append(archive)
    return read_directory(archive)


zipimport._read_directory = counting
importlib.invalidate_caches()
out["reads_unchanged"] = len(reads)
write_zip(["m1", "m2"])
del reads[:]
importlib.invalidate_caches()
out["reads_rewritten"] = reads.count(zpath)
import m2  # noqa: E402

out["m2"] = m2.NAME
print(json.dumps(out))
"""

_GUARDED = pytest.mark.skipif(sys.version_info >= (3, 13),
                              reason="the guard does nothing on 3.13+")


def _probe(tmp_path, worker_env: bool) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    env["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in [env.get("PYTHONPATH")] if p])
    if worker_env:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "x"
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "mods.zip")],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout.strip().splitlines()[-1])


@_GUARDED
def test_guard_skips_unchanged_archives_and_rereads_rewritten(tmp_path):
    out = _probe(tmp_path, worker_env=True)
    assert out["zip_types"] == ["GuardedZipImporter"], out
    assert not out["hooks_unchanged"], out
    assert out["reads_unchanged"] == 0, out
    assert out["reads_rewritten"] >= 1, out
    assert out["m2"] == "m2"


def test_no_guard_outside_spark_workers(tmp_path):
    out = _probe(tmp_path, worker_env=False)
    assert out["hooks_unchanged"], out
    assert out["cache_unchanged"], out
    assert out["zip_types"] == ["zipimporter"], out
    assert out["m2"] == "m2"


@_GUARDED
def test_spark_workers_run_guarded(spark):
    """The environment-variable gate fires inside Spark's daemon-forked
    workers: after a task imports the package, every zip importer in
    the worker (pyspark.zip, py4j, the spark-core jar) is guarded."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        import orc_rust_spark.stripes  # noqa: F401

        for _ in batches:
            pass
        zips = [type(f).__name__ for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "zip_importers": [len(zips)],
            "guarded": [sum(t == "GuardedZipImporter" for t in zips)]})

    row = spark.range(1, numPartitions=1).mapInArrow(
        probe, "zip_importers long, guarded long").collect()[0]
    assert row.zip_importers >= 1, row
    assert row.guarded == row.zip_importers, row
