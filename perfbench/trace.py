"""Layer tracing for the traced benchmark run.

Worker side: ``install()`` replaces package functions with timing
wrappers, by module attribute, inside a Spark Python worker process
before any task function is unpickled (``perfbench.tracedaemon`` calls
it in the worker daemon, whose forks inherit the wrappers).  No package
file changes: the tasks' closures resolve ``orc_rust_spark`` functions
by module attribute when they are unpickled, so they pick the wrappers
up.  Each span records calls, total seconds and self seconds (total
minus the time of the spans it called); counters record work done.  A
worker writes its cumulative totals to ``$PERFBENCH_TRACE_DIR/<pid>.json``
whenever its outermost span ends.

Driver side: ``WorkerTotals`` sums those files, so the difference of two
snapshots is the work done by the jobs run in between, and
``SparkRest`` reads jobs and their task metrics from the Spark UI's
REST API.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
import urllib.request

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"

# span name -> (module, attribute) of the function it times; every
# module attribute bound to the same function object is replaced too,
# so aliases made by ``from x import f`` are covered
SPAN_TARGETS = {
    "operators.encode": ("orc_rust_spark.operators.encode", "encode_batches"),
    "stripes.encode": ("orc_rust_spark.stripes", "encode_stripe"),
    "stripes.decode": ("orc_rust_spark.stripes", "decode_stripe"),
    "stripes.int_auto": ("orc_rust_spark.stripes", "encode_int_auto"),
    "kernels.rle_v2.encode": ("orc_rust_spark.kernels.rle_v2", "rle_v2_encode"),
    "kernels.rle_v2.decode": ("orc_rust_spark.kernels.rle_v2", "rle_v2_decode"),
    "kernels.for.encode": ("orc_rust_spark.kernels.for_codec", "for_encode"),
    "kernels.int_dict.encode": ("orc_rust_spark.kernels.for_codec", "int_dict_encode"),
    "kernels.fsst.compress": ("orc_rust_spark.kernels.fsst", "fsst_compress"),
    "kernels.fsst.compress_with": ("orc_rust_spark.kernels.fsst", "fsst_compress_with"),
    "kernels.fsst.train": ("orc_rust_spark.kernels.fsst", "train"),
    "kernels.fsst.decompress": ("orc_rust_spark.kernels.fsst", "fsst_decompress"),
    "kernels.compression.compress": ("orc_rust_spark.kernels.compression", "compress_stream"),
    "kernels.compression.decompress": ("orc_rust_spark.kernels.compression", "decompress_stream"),
    "orc_writer.write": ("orc_rust_spark.sources.orc_writer", "OrcWriter.write_batch"),
    "orc_writer.close": ("orc_rust_spark.sources.orc_writer", "OrcWriter.close"),
    "orc_reader.read": ("orc_rust_spark.sources.orc_reader", "read_orc"),
    "orc_reader.stripe": ("orc_rust_spark.sources.orc_reader", "_stripe_layout"),
    "parquet_arrow.read": ("pyarrow.parquet", "ParquetFile.read_row_groups"),
}

# spans that are trial encodes inside encode_int_auto
_INT_CANDIDATES = ("kernels.rle_v2.encode", "kernels.for.encode",
                   "kernels.int_dict.encode")


class Tracer:
    """Span stack and cumulative totals of one worker process."""

    def __init__(self, out_path: str | None, pid: int):
        self.out_path = out_path
        self.pid = pid
        self.spans: dict[str, list[float]] = {}   # name -> [calls, total, self]
        self.counters: dict[str, float] = {}
        self.stack: list[list] = []               # [name, t0, child_s]

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def enter(self, name: str) -> None:
        if name in _INT_CANDIDATES and self.stack \
                and self.stack[-1][0] == "stripes.int_auto":
            self.count("stripes.int_candidates_tried")
        self.stack.append([name, time.perf_counter(), 0.0])

    def exit(self) -> None:
        name, t0, child = self.stack.pop()
        dt = time.perf_counter() - t0
        rec = self.spans.setdefault(name, [0, 0.0, 0.0])
        rec[0] += 1
        rec[1] += dt
        rec[2] += dt - child
        if self.stack:
            self.stack[-1][2] += dt
        else:
            self.count("python.busy_s", dt)
            self.flush()

    def flush(self) -> None:
        if self.out_path is None:
            return
        tmp = f"{self.out_path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)
        os.replace(tmp, self.out_path)


_TRACER: Tracer | None = None


def _tracer() -> Tracer:
    """The tracer of this process; a forked worker gets its own file."""
    global _TRACER
    pid = os.getpid()
    if _TRACER is None or _TRACER.pid != pid:
        d = os.environ.get(TRACE_DIR_ENV)
        _TRACER = Tracer(os.path.join(d, f"{pid}.json") if d else None, pid)
    return _TRACER


def _after(name: str, args, kwargs, out) -> None:
    """Work counters read off a finished call's arguments and result."""
    t = _tracer()
    if name == "kernels.rle_v2.encode":
        t.count("kernels.rle_v2.values", len(args[0]))
    elif name == "kernels.rle_v2.decode":
        t.count("kernels.rle_v2.values",
                args[1] if len(args) > 1 else kwargs["n"])
    elif name == "stripes.int_auto":
        t.count("stripes.int_candidates_kept")
    elif name == "stripes.encode":
        t.count("operators.stripes")
    elif name == "stripes.decode":
        t.count("operators.stripes")
        t.count("pipeline.rows_decoded", out.num_rows)
    elif name == "parquet_arrow.read":
        t.count("parquet_arrow.bytes", out.nbytes)
    elif name == "orc_writer.write":
        t.count("orc_writer.stripes")
    elif name == "orc_writer.close":
        t.count("orc_writer.bytes", os.path.getsize(args[0].path))
    elif name == "orc_reader.read":
        t.count("orc_reader.stripes_assigned",
                len(kwargs.get("stripe_indices") or ()))
        t.count("orc_reader.rows_returned", out.num_rows)
        t.count("orc_reader.rows_decoded",
                kwargs["_stats"].get("rows_decoded", 0))
    elif name == "orc_reader.stripe":
        t.count("orc_reader.stripes_read")


def _wrap(name: str, fn):
    if name == "operators.encode":
        # a generator: time each step, not the suspended intervals
        @functools.wraps(fn)
        def gen_wrapper(*args, **kwargs):
            it = fn(*args, **kwargs)
            t = _tracer()
            while True:
                t.enter(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    t.exit()
                yield item
        return gen_wrapper

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t = _tracer()
        if name == "orc_reader.read":
            kwargs.setdefault("_stats", {})
        t.enter(name)
        try:
            out = fn(*args, **kwargs)
            # counted inside the span, so the flush at its end has them
            _after(name, args, kwargs, out)
            return out
        finally:
            t.exit()
    return wrapper


def install() -> None:
    """Replace every SPAN_TARGETS function by its timing wrapper."""
    for name, (mod_name, attr) in SPAN_TARGETS.items():
        mod = importlib.import_module(mod_name)
        owner_name, _, fn_name = attr.rpartition(".")
        owner = getattr(mod, owner_name) if owner_name else mod
        orig = getattr(owner, fn_name)
        wrapped = _wrap(name, orig)
        setattr(owner, fn_name, wrapped)
        if owner_name:
            continue
        for m in list(sys.modules.values()):
            if not getattr(m, "__name__", "").startswith("orc_rust_spark"):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapped)


# --------------------------------------------------------------- driver side

class WorkerTotals:
    """Sum of every worker's cumulative span and counter totals."""

    def __init__(self, trace_dir: str):
        self.trace_dir = trace_dir

    def snapshot(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for fn in os.listdir(self.trace_dir):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(self.trace_dir, fn)) as f:
                rec = json.load(f)
            for name, (calls, total, self_s) in rec["spans"].items():
                out[f"{name}.calls"] = out.get(f"{name}.calls", 0) + calls
                out[f"{name}_s"] = out.get(f"{name}_s", 0) + total
                out[f"{name}.self_s"] = out.get(f"{name}.self_s", 0) + self_s
            for name, v in rec["counters"].items():
                out[name] = out.get(name, 0) + v
        return out

    @staticmethod
    def delta(after: dict, before: dict) -> dict[str, float]:
        return {k: v - before.get(k, 0) for k, v in after.items()}


class SparkRest:
    """Jobs and task metrics, read from the live UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def tasks(self, stage_ids: list[int]) -> list[list[dict]]:
        """Per stage, its successful tasks' data."""
        out = []
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                tl = self._get(f"/stages/{sid}/{att['attemptId']}"
                               "/taskList?length=100000")
                out.append([t for t in tl if t.get("status") == "SUCCESS"])
        return out
