"""Scaling-efficiency protocol (BASELINE.md): run the identical
codec-only bench pinned (taskset) to several core counts on the same
fixed corpus; efficiency(N -> 4N) = (T_N * N) / (T_4N * 4N).

Usage: python tools/bench_scaling.py [--docs N] [core counts...]
       (default --docs 960000, counts 1 4 8 32)

APPEND-ONLY RECORDS (round-5): every invocation appends one window to
BENCH_SCALING.json's "windows" list — timestamped, with per-point
pollution flags from bench.py's tenancy adjudication — and updates the
top-level curve/scaling_efficiency to the latest CLEAN window.  Windows
are never rewritten or deleted (the 15aec119/b5fcafa9 churn is
structurally impossible now).  A point whose bench run reports
polluted=true is re-run up to 2 times before being recorded as-is.

Pinning matters: an unpinned local[N] JVM + Python workers spill onto
every host core, which silently inflates the small-N throughput.

Corpus-size choice (measured each round, not assumed — the full
history is in BASELINE.md):

- Round 4 (slower kernel): the 240k-doc corpus (~830k-token stripes,
  cache-resident) measured core scaling best; a 3x corpus collapsed
  2->4 to ~0.62 on this shared-bus host (recorded in
  `full_size_stripe_experiment`).
- Round 5 (decode kernel +12%, index-build traffic cut): at 240k the
  4-core decode point became ~42% FIXED per-job cost (Spark stage
  setup + task dispatch, fitted ~1.35 s) — the pair was measuring
  Spark's job-latency floor, not the codec, and got WORSE as the
  kernel got faster (0.619).  The default is now the 4x corpus (960k
  docs, same 128-fragment layout, every stripe at the full 2^21-token
  budget — the steady-state shape of a 100 TB scan): fixed cost <5%
  of the 4-core wall, and the round-4 full-size-stripe collapse does
  not reproduce with the round-5 kernel (4-core decode 0.148 GB/s is
  the fastest recorded on this host).  Window 2: encode 0.799 /
  decode 0.852 at 1->4.

On a real N -> 4N cluster each node adds its own memory bus, the
resource a single box cannot multiply.  Same fixed corpus, same
128-partition layout, min-of-3 (tenancy-adjudicated) per point, at
every parallelism level.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAX_POINT_RERUNS = 2


def run_once(cpus: int, docs: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_CODEC_ONLY="1",
               SPARK_GRAFT_SYNTH_DOCS=str(docs))
    cmd = [sys.executable, str(ROOT / "bench.py")]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}" if cpus > 1 else "0"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=3600)
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def run(cpus: int, docs: int) -> dict:
    """A point that flags itself polluted is re-run (bounded): the
    neighbor phase that poisoned BENCH_r04 lasted minutes, so a fresh
    window minutes later is usually clean."""
    r = run_once(cpus, docs)
    for _ in range(MAX_POINT_RERUNS):
        if not r.get("polluted"):
            break
        r = run_once(cpus, docs)
    return r


def summarize(runs: dict[int, dict]) -> tuple[dict, dict]:
    curve = {
        str(c): {
            "encode_sec": r["queries"]["encode_synthetic"],
            "decode_sec": r["queries"]["decode_synthetic"],
            "encode_GBps": r["extra"]["encode_GBps"],
            "decode_GBps": r["extra"]["decode_GBps"],
            "polluted": bool(r.get("polluted", False)),
        } for c, r in runs.items()
    }

    def eff(key: str, n: int, m: int) -> float:
        t_n = runs[n]["queries"][key]
        t_m = runs[m]["queries"][key]
        return round((t_n * n) / (t_m * m), 3)

    pairs = {}
    for n in runs:
        if 4 * n in runs:
            pairs[f"{n}->{4 * n}"] = {
                "encode": eff("encode_synthetic", n, 4 * n),
                "decode": eff("decode_synthetic", n, 4 * n),
            }
    return curve, pairs


def main() -> None:
    args = sys.argv[1:]
    docs = 960000
    if "--docs" in args:
        i = args.index("--docs")
        docs = int(args[i + 1])
        del args[i:i + 2]
    counts = [int(a) for a in args] or [1, 4, 8, 32]
    runs = {c: run(c, docs) for c in counts}
    curve, pairs = summarize(runs)

    window = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.localtime()),
        "corpus_docs": docs,
        "curve": curve,
        "scaling_efficiency": pairs,
        "polluted": any(v["polluted"] for v in curve.values()),
        "full": {str(c): r for c, r in runs.items()},
    }

    out = ROOT / "BENCH_SCALING.json"
    report: dict = {}
    if out.exists():
        prev = json.loads(out.read_text())
        report["windows"] = list(prev.get("windows", []))
        if not report["windows"] and "curve" in prev:
            # migrate a pre-append-only artifact: its record becomes
            # window 0, verbatim
            report["windows"].append({
                "ts": "pre-round-5 committed window",
                "corpus_docs": prev.get("corpus_docs", 240000),
                "curve": prev["curve"],
                "scaling_efficiency": prev.get("scaling_efficiency", {}),
                "full": prev.get("full", {}),
            })
        # the headline keeps the last clean window's record until a
        # new clean window replaces it
        for key in ("corpus_docs", "curve", "scaling_efficiency",
                    "full_size_stripe_experiment"):
            if key in prev:
                report[key] = prev[key]
    report.setdefault("windows", [])
    report["windows"].append(window)
    if not window["polluted"]:
        report.update(corpus_docs=docs, curve=curve,
                      scaling_efficiency=pairs)
    out.write_text(json.dumps(report, indent=2))
    print(json.dumps({"curve": curve, "scaling_efficiency": pairs,
                      "windows": len(report["windows"])}))


if __name__ == "__main__":
    main()
