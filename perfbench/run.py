"""tokencoder benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  The workload's inputs are made once
from the seed, the program builds its stored data set from them
SETUP_REPS times (``setup_s`` is the median), and one read of each
kind warms the reads.  Then one client drives the workload in a closed
loop for ``--seconds``: each op starts when the previous one has
finished.
Every op's result is checked against an oracle; an op that raised or
returned a wrong result is failed and never supplies a timing.  Each op
is bracketed by host-load accounting, and an op during which other
processes or the hypervisor took CPU supplies no timing either, unless
most ops of its phase ran on a loaded host (the headline then lists
the phase under ``polluted_phases``).  The window is never extended, so
a run takes about the same time on a loaded host as on a quiet one.

Standard output ends with two lines: a compact headline (workload,
seed, slots, every metric with its unit, the sidecar's path) and the
result object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the package's layers are timed from inside the Spark Python workers and
the metrics are the per-layer ones.  Per-op detail goes to the sidecar
file under ``.perfbench/results``.  Design notes: perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
PHASES = ("write", "scan", "lookup")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="full",
                   help="input sizes: 'full' (the benchmark) or 'tiny' "
                        "(smoke test)")
    return p.parse_args(argv)


def start_spark(host: dict, work: Path, trace: bool):
    """Local Spark session on host['slots'] slots that writes only
    under `work`."""
    from pyspark.sql import SparkSession
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{host['slots']}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{host['driver_memory_mb']}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
         .config("spark.local.dir", str(local))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.sql.shuffle.partitions", str(host["slots"]))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.showConsoleProgress", "false")
         # the traced run reads task metrics from the UI's REST API
         .config("spark.ui.enabled", "true" if trace else "false"))
    if trace:
        b = b.config("spark.python.daemon.module", "perfbench.tracedaemon")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for them to exit."""
    from pyspark import SparkContext
    from perfbench.host import python_workers
    gateway = SparkContext._gateway
    spark.stop()
    workers = python_workers(os.getpid())
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Op:
    __slots__ = ("phase", "k", "sec", "load", "error", "trace")

    def __init__(self, phase, k):
        self.phase, self.k = phase, k
        self.sec = 0.0
        self.load: dict = {}
        self.error: str | None = None
        self.trace: dict = {}

    @property
    def counts(self) -> bool:
        """Supplies a headline timing: correct and run on a quiet host."""
        return self.error is None and self.load.get("load") == "clean"

    def record(self) -> dict:
        return {"phase": self.phase, "k": self.k, "sec": round(self.sec, 6),
                "error": self.error, **self.load}


def run_op(spark, wl, phase: str, k: int, judge, tag: str, probe) -> Op:
    op = Op(phase, k)
    sc = spark.sparkContext
    before = probe.snapshot() if probe else None
    sc.addJobTag(tag)
    judge.start()
    t0 = time.perf_counter()
    try:
        check = getattr(wl, phase)(k)
        op.sec = time.perf_counter() - t0
        op.load = judge.stop()
        op.error = check()
    except Exception as e:  # a failed op is counted, and the run goes on
        op.sec = time.perf_counter() - t0
        op.load = op.load or judge.stop()
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    finally:
        sc.removeJobTag(tag)
    if probe:
        op.trace = probe.delta(probe.snapshot(), before)
        op.trace["orc_spark.plan_s"] = getattr(wl, "plan_s", 0.0)
        op.trace["rows_returned"] = getattr(wl, "rows_returned", 0)
    return op


def measure(spark, wl, seconds: float, judge, probe) -> list[Op]:
    """Closed loop over the workload's round of phases until the window
    ends and every phase has run at least once (at most one round past
    the window)."""
    ops: list[Op] = []
    t_end = time.perf_counter() + seconds
    index = dict.fromkeys(PHASES, 0)  # op k of a phase uses input k
    while True:
        for phase in wl.round:
            ops.append(run_op(spark, wl, phase, index[phase], judge,
                              f"op-{len(ops)}", probe))
            index[phase] += 1
            if time.perf_counter() >= t_end and all(
                    index[p] for p in PHASES):
                return ops


def timed_ops(ops: list[Op], phase: str) -> tuple[list[Op], bool]:
    """The ops of `phase` that supply its timings, and whether the host
    was quiet for them.  Wrong or failed ops never supply a timing.  When
    at least half of the correct ops ran on a quiet host, only those do.
    Otherwise the load was the run's norm rather than a passing spike:
    every correct op supplies a timing and the phase is marked polluted,
    because the result line must carry every metric."""
    correct = [o for o in ops if o.phase == phase and o.error is None]
    clean = [o for o in correct if o.counts]
    if clean and 2 * len(clean) >= len(correct):
        return clean, True
    return correct, False


def end_to_end(wl, ops: list[Op], setup_reps: list[float],
               peak_rss_mb: float) -> dict[str, float]:
    def med(phase):
        return statistics.median(o.sec for o in timed_ops(ops, phase)[0])
    return {
        "setup_s": statistics.median(setup_reps),
        "write_MBps": wl.payload_bytes / med("write") / 1e6,
        "scan_MBps": wl.payload_bytes / med("scan") / 1e6,
        "lookup_p50_ms": med("lookup") * 1e3,
        "stored_bytes_per_value": wl.stored_bytes_per_value,
        "worker_peak_rss_MB": peak_rss_mb,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("orc_rust_spark") is None:
        print(f"perfbench: no orc_rust_spark package under {ROOT}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    from perfbench.host import size_host
    from perfbench.trace import TRACE_DIR_ENV
    from perfbench.workloads import SCALES, WORKLOADS
    if args.workload not in WORKLOADS or args.scale not in SCALES:
        print(f"perfbench: choose --workload from {sorted(WORKLOADS)} and "
              f"--scale from {sorted(SCALES)}", file=sys.stderr)
        return 2

    host = size_host()
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{os.getpid()}"
    (work / "trace").mkdir(parents=True)
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    if args.trace:
        os.environ[TRACE_DIR_ENV] = str(work / "trace")
    t0 = time.perf_counter()
    spark = start_spark(host, work, bool(args.trace))
    host["session_start_s"] = time.perf_counter() - t0
    try:
        return run(spark, args, host, work)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def run(spark, args, host: dict, work: Path) -> int:
    from perfbench import layers
    from perfbench.host import LoadJudge, RssSampler
    from perfbench.trace import WorkerTotals
    from perfbench.workloads import SCALES, WORKLOADS
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    wl = WORKLOADS[args.workload](spark, args.seed, str(work),
                                  SCALES[args.scale])
    probe = layers.Probe(WorkerTotals(str(work / "trace")),
                         layers.DriverCounters()) if args.trace else None

    t = time.perf_counter()
    wl.synthesize()
    synth_s = time.perf_counter() - t
    setup_reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup()
        setup_reps.append(time.perf_counter() - t)
    wl.prepare_checks()
    judge = LoadJudge()
    # set-up ran the write path SETUP_REPS times; warm the reads
    warm = [run_op(spark, wl, p, -1, judge, f"warm-{p}", None)
            for p in ("scan", "lookup")]
    if probe:
        probe.driver.install()
    sampler = RssSampler()
    sampler.start()
    t_window = time.perf_counter()
    try:
        ops = measure(spark, wl, args.seconds, judge, probe)
    finally:
        peak_rss = sampler.stop()
        if probe:
            probe.driver.uninstall()
    window_s = time.perf_counter() - t_window

    failed = [o for o in warm + ops if o.error]
    missing = [p for p in PHASES if not timed_ops(ops, p)[0]]
    if missing:
        print(f"perfbench: no correct op in phase(s) {missing}; no result",
              file=sys.stderr)
        for o in failed[:5]:
            print(f"  {o.phase}#{o.k}: {o.error}", file=sys.stderr)
        return 3
    polluted = [p for p in PHASES if not timed_ops(ops, p)[1]]
    e2e = end_to_end(wl, ops, setup_reps, peak_rss)
    metrics = layers.per_layer(spark, ops, host["slots"], e2e, synth_s, wl) \
        if args.trace else e2e

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[kind]}
    result = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
              for name, unit in units.items()}
    attempted = len(warm) + len(ops)
    sidecar = ROOT / ".perfbench" / "results" / (
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    sidecar.parent.mkdir(parents=True, exist_ok=True)
    with open(sidecar, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "scale": args.scale, "trace": args.trace, "host": host,
                   "synth_s": synth_s, "setup_reps_s": setup_reps,
                   "window_s": window_s,
                   "end_to_end": e2e, "metrics": metrics,
                   "ops": [o.record() for o in warm + ops],
                   "op_traces": [o.trace for o in ops]}, f, indent=1)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "slots": host["slots"], "trace": args.trace,
        "end_to_end": {n: [round(v, 4), e2e_units[n]] for n, v in e2e.items()},
        "ops": attempted, "failed": len(failed),
        "excluded_for_host_load": sum(1 for o in ops
                                      if o.error is None and not o.counts),
        "polluted_phases": polluted,
        "sidecar": str(sidecar.relative_to(ROOT))}, separators=(",", ":")))
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
