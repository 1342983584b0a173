"""Per-layer metrics of a traced run.

Every metric is a mean per op of its phase (``write``, ``scan``,
``lookup``); a layer a workload does not use reads 0.  Sources:

- the Python workers' span and counter totals (``perfbench.trace``),
  differenced around each op;
- driver-side counters of the ORC source's planning, kept by wrapping
  ``sources.orc_spark`` attributes in this process (``DriverCounters``);
- Spark's task metrics of each op's jobs, read from the UI's REST API
  by job tag (``spark.*``).
"""

from __future__ import annotations

import statistics
import time

from perfbench.trace import SparkRest, WorkerTotals

PHASES = ("write", "scan", "lookup")

SPARK = ("spark.jobs", "spark.tasks", "spark.executor_run_s",
         "spark.scheduler_delay_s", "spark.jvm_gc_s", "spark.slot_busy_frac",
         "spark.task_skew")


class DriverCounters:
    """Counts the ORC source's driver-side planning: stripes considered
    and kept by statistics pruning, and tasks planned."""

    def __init__(self):
        self.counters: dict[str, float] = {}
        self._saved: list = []

    def _count(self, name: str, n: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def install(self) -> None:
        from orc_rust_spark.sources import orc_spark
        plan, matching = orc_spark._plan_orc_file, orc_spark.stripes_matching

        def stripes_matching(meta, predicate):
            out = matching(meta, predicate)
            self._count("orc_spark.stripes_considered", len(meta.stripes))
            self._count("orc_spark.stripes_planned", len(out))
            return out

        def plan_orc_file(f, predicate, split_bytes):
            n_file, chunks = plan(f, predicate, split_bytes)
            self._count("orc_spark.tasks", len(chunks))
            return n_file, chunks

        self._saved = [("_plan_orc_file", plan), ("stripes_matching", matching)]
        orc_spark._plan_orc_file = plan_orc_file
        orc_spark.stripes_matching = stripes_matching

    def uninstall(self) -> None:
        from orc_rust_spark.sources import orc_spark
        for name, fn in self._saved:
            setattr(orc_spark, name, fn)


class Probe:
    """Worker totals and driver counters, snapshotted together."""

    def __init__(self, workers: WorkerTotals, driver: DriverCounters):
        self.workers = workers
        self.driver = driver

    def snapshot(self) -> dict[str, float]:
        return {**self.workers.snapshot(), **self.driver.counters}

    delta = staticmethod(WorkerTotals.delta)


def _sum(traces: list[dict], key: str) -> float:
    return sum(t.get(key, 0.0) for t in traces)


def _self_sum(traces: list[dict], prefix: str) -> float:
    return sum(v for t in traces for k, v in t.items()
               if k.startswith(prefix) and k.endswith(".self_s"))


def _spark_by_phase(spark, ops, slots: int) -> dict[str, dict[str, float]]:
    rest = SparkRest(spark)
    phase_of = {f"op-{i}": o.phase for i, o in enumerate(ops)}
    # the UI's store is fed asynchronously: wait until it has every op
    deadline = time.monotonic() + 10
    while True:
        all_jobs = rest.jobs()
        seen = {t for j in all_jobs for t in j.get("jobTags", [])}
        settled = all(j["status"] != "RUNNING" for j in all_jobs)
        if (settled and seen >= set(phase_of)) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: dict[str, list[int]] = {p: [] for p in PHASES}
    jobs: dict[str, int] = {p: 0 for p in PHASES}
    for job in all_jobs:
        for tag in job.get("jobTags", []):
            if tag in phase_of:
                jobs[phase_of[tag]] += 1
                stages[phase_of[tag]].extend(job["stageIds"])
    out = {}
    for p in PHASES:
        n = sum(1 for o in ops if o.phase == p) or 1
        wall = sum(o.sec for o in ops if o.phase == p) or 1.0
        per_stage = rest.tasks(sorted(set(stages[p])))
        tasks = [t for st in per_stage for t in st]
        dur = [t["duration"] / 1e3 for t in tasks]
        skews = []
        for st in per_stage:
            d = [t["duration"] for t in st]
            if len(d) >= 2 and statistics.median(d) > 0:
                skews.append(max(d) / statistics.median(d))
        out[p] = {
            "spark.jobs": jobs[p] / n,
            "spark.tasks": len(tasks) / n,
            "spark.executor_run_s": sum(
                t["taskMetrics"]["executorRunTime"] for t in tasks) / 1e3 / n,
            "spark.scheduler_delay_s": sum(
                t.get("schedulerDelay", 0) for t in tasks) / 1e3 / n,
            "spark.jvm_gc_s": sum(
                t["taskMetrics"]["jvmGcTime"] for t in tasks) / 1e3 / n,
            "spark.slot_busy_frac": sum(dur) / (wall * slots),
            "spark.task_skew": statistics.median(skews) if skews else 0.0,
        }
    return out


def per_layer(spark, ops, slots: int, e2e: dict, synth_s: float,
              workload) -> dict[str, float]:
    """Every per-layer metric of the run, by name."""
    sp = _spark_by_phase(spark, ops, slots)
    m: dict[str, float] = {
        "setup.functions.synth_s": synth_s,
        "traced.write_MBps": e2e["write_MBps"],
        "traced.scan_MBps": e2e["scan_MBps"],
        "traced.lookup_p50_ms": e2e["lookup_p50_ms"],
    }
    for p in PHASES:
        mine = [o for o in ops if o.phase == p]
        tr = [o.trace for o in mine]
        n = len(mine) or 1
        wall = sum(o.sec for o in mine) or 1.0

        def put(name, total):
            m[f"{p}.{name}"] = total / n

        for name in SPARK:
            m[f"{p}.{name}"] = sp[p][name]
        busy = _sum(tr, "python.busy_s")
        put("python.busy_s", busy)
        m[f"{p}.python.busy_frac"] = busy / (wall * slots)
        put("boundary_s", sp[p]["spark.executor_run_s"] * n - busy)
        put("kernels.fsst_s", _self_sum(tr, "kernels.fsst."))
        put("kernels.compression_s", _self_sum(tr, "kernels.compression."))
        put("kernels.rle_v2.values", _sum(tr, "kernels.rle_v2.values"))
        put("operators.stripes", _sum(tr, "operators.stripes"))
        if p == "write":
            for name in ("parquet_arrow.read_s", "parquet_arrow.bytes",
                         "stripes.encode_s", "stripes.int_candidates_tried",
                         "stripes.int_candidates_kept",
                         "kernels.rle_v2.encode_s", "kernels.for.encode_s",
                         "kernels.int_dict.encode_s", "orc_writer.stripes",
                         "orc_writer.bytes"):
                put(name, _sum(tr, name))
            put("operators.encode_self_s", _sum(tr, "operators.encode.self_s"))
            put("stripes.encode_self_s", _sum(tr, "stripes.encode.self_s"))
            put("orc_writer.write_s", _sum(tr, "orc_writer.write_s")
                + _sum(tr, "orc_writer.close_s"))
            continue
        for name in ("stripes.decode_s", "kernels.rle_v2.decode_s",
                     "orc_reader.read_s", "orc_reader.stripes_read",
                     "orc_reader.rows_decoded", "orc_reader.rows_returned",
                     "orc_spark.plan_s", "orc_spark.tasks",
                     "orc_spark.stripes_considered"):
            put(name, _sum(tr, name))
        put("stripes.decode_self_s", _sum(tr, "stripes.decode.self_s"))
        put("orc_reader.stripes_skipped",
            _sum(tr, "orc_spark.stripes_considered")
            - _sum(tr, "orc_spark.stripes_planned")
            + _sum(tr, "orc_reader.stripes_assigned")
            - _sum(tr, "orc_reader.stripes_read"))
        if p == "lookup" and workload.name == "tokens":
            m["lookup.pipeline.stripes_total"] = workload.n_stripes
            put("pipeline.stripes_decoded", _sum(tr, "stripes.decode.calls"))
            put("pipeline.rows_decoded", _sum(tr, "pipeline.rows_decoded"))
            put("pipeline.rows_returned", _sum(tr, "rows_returned"))
    return m
