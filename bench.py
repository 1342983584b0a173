"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Ends stdout with ONE compact JSON line
(under 1000 chars):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "extra": {...}, "polluted": ...,
   "retries_used": ..., "detail": <path of BENCH_DETAIL.json>}

Headline set = the engine's hot paths: fused parquet-scan+stripe-encode
and stripe-decode of a fixed deterministic token corpus (the GB/s
figures), plus the SF-dir pipeline and scale-path training-data ops
(MinHash-LSH dedup, SimHash, cosine top-k, exact dedup).

Scaling protocol (BASELINE.md): tools/bench_scaling.py runs this file
pinned to N and 4N cores (taskset) on the identical corpus and computes
throughput scaling efficiency; SPARK_GRAFT_CODEC_ONLY=1 limits the run
to the encode/decode measurements.

Tenancy self-adjudication (round-5): every rep is bracketed by exact
external-CPU accounting (tools/tenancy.py — host busy jiffies minus our
own process tree's).  A rep with > SPARK_GRAFT_EXT_LOAD_MAX external
cores (default 2.0) is re-queued within a bounded shared retry budget
(SPARK_GRAFT_RETRY_BUDGET, default 8 extra reps per run); the sidecar
BENCH_DETAIL.json (in the working directory) carries per-rep
{sec, ext_cores, own_cores, loadavg} under "rep_detail" with
per-query "polluted" flags, and the headline a top-level one, so a
BENCH_r04-style artifact (recorded under neighbor load 10-21, 29 s for
a 1.4 s query) now flags itself instead of masquerading as a
regression.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# glibc: serve large numpy blocks from the reused heap instead of fresh
# mmaps — page-fault churn across many workers costs more than the codec
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 240k docs ~= 200M tokens ~= 0.8 GB of int32 payload: large enough that
# the ~1s fixed cost of scheduling a 128-task Python stage is <10% of
# the measured wall, so the GB/s figures reflect steady-state kernel
# throughput (the quantity that matters at 100 TB), not Spark's stage
# floor.  Corpus is synthesized once and cached in /tmp across runs.
N_SYNTH_DOCS = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", "240000"))
CODEC_ONLY = os.environ.get("SPARK_GRAFT_CODEC_ONLY") == "1"
CORPUS_DIR = os.environ.get(
    "SPARK_GRAFT_CORPUS_DIR", f"/tmp/tokencoder_corpus_{N_SYNTH_DOCS}")
# a 1-core pinned point is measurably distorted well below 2 external
# cores (BASELINE.md round-5: 1-core decode reps at ext 0.2-1.4 read
# 37-47% slower than ext<=0.03 reps in the same hour) — tighten the
# threshold when the run itself is small
_DEF_EXT = "0.5" if CPUS <= 2 else "2.0"
EXT_LOAD_MAX = float(os.environ.get("SPARK_GRAFT_EXT_LOAD_MAX", _DEF_EXT))
RETRY_BUDGET = int(os.environ.get("SPARK_GRAFT_RETRY_BUDGET", "8"))
# every rep's {sec, ext_cores, own_cores, loadavg}, beside the headline
DETAIL_PATH = os.path.abspath("BENCH_DETAIL.json")


def main() -> None:
    from pyspark.sql import SparkSession
    import pyspark.sql.functions as F

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("tokencoder-bench")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
             .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from orc_rust_spark.functions.tokens import TOKEN_SCHEMA, synthesize_tokens
    from orc_rust_spark.operators.decode import decode_pass
    from orc_rust_spark.sources.parquet_arrow import scan_encode_parquet
    from orc_rust_spark import queries as reg

    # fixed deterministic corpus, written once; file layout (one file
    # per generator part, 128) does NOT depend on CPUS so every
    # parallelism level reads the same bytes (two-cluster-size protocol
    # requirement).  The parts share a write task per slot, so the file
    # cap does the split; it is exact when 128 divides the doc count.
    if not os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        synthesize_tokens(spark, N_SYNTH_DOCS, seed=42, partitions=128) \
            .write.mode("overwrite") \
            .option("maxRecordsPerFile", -(-N_SYNTH_DOCS // 128)) \
            .parquet(CORPUS_DIR)

    # warm the reused Python workers with a FULL pass over the corpus:
    # a worker's first real encode costs 5-10x CPU (imports, allocator
    # arena growth, first-touch page faults on the ~100 MB of numpy
    # temporaries), so warming with tiny data leaves the first timed rep
    # measuring worker cold-start, not codec throughput.  This also
    # brings the corpus into page cache, which a 100-TB steady-state
    # scan would equivalently get from overlapping I/O.
    warm_stripes = scan_encode_parquet(spark, CORPUS_DIR,
                                       stripe_tokens=1 << 21).persist()
    decode_pass(warm_stripes, TOKEN_SCHEMA).count()
    warm_stripes.unpersist()

    from tools.tenancy import ExternalLoadMonitor, adjudicated_min

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    rep_detail: dict[str, dict] = {}
    monitor = ExternalLoadMonitor()
    retry_budget = [RETRY_BUDGET]

    def timed(name: str, fn, reps: int = 1):
        best, out, recs, polluted = adjudicated_min(
            fn, reps, monitor, EXT_LOAD_MAX, retry_budget)
        timings[name] = round(best, 3)
        rep_detail[name] = {"reps": recs, "polluted": polluted}
        return out

    # --- fused scan+encode and decode: the GB/s measurements -------------
    # NOTE: the plan must be rebuilt per rep.  Re-collecting one
    # DataFrame object reuses its RDD lineage's shuffle map outputs, so
    # reps 2..n would measure only the final post-shuffle stage (0.1 s
    # for a 2 s job — verified) — min-of-3 would be fiction.
    # multi-core codec points swing up to 3x rep-to-rep at ~0 measured
    # external CPU (shared-host DRAM neighbors are invisible to jiffy
    # accounting; BASELINE.md round-5 w7/w8 records) while the 1-core
    # points hold to ±3%: spend the extra draws where the variance is.
    # Every rep is recorded in rep_detail either way.
    codec_reps = 3 if CPUS == 1 else 6
    timed("encode_synthetic",
          lambda: scan_encode_parquet(spark, CORPUS_DIR, stripe_tokens=1 << 21)
          .agg(F.sum("output_bytes")).collect(), reps=codec_reps)
    # different budget => different plan, defeats accidental cache reuse
    stripes = scan_encode_parquet(spark, CORPUS_DIR,
                                  stripe_tokens=(1 << 21) + 1).persist()
    out_bytes, n_stripes, n_tokens = tuple(
        stripes.agg(F.sum("output_bytes"), F.count("*"),
                    F.sum("n_tokens")).collect()[0])
    input_bytes = int(n_tokens) * 4  # int32 payload
    extra["encode_GBps"] = round(input_bytes / timings["encode_synthetic"] / 1e9, 3)
    extra["bytes_per_token"] = round(int(out_bytes) / int(n_tokens), 3)
    extra["n_tokens"] = int(n_tokens)
    extra["n_stripes"] = int(n_stripes)
    extra["compression_ratio"] = round(input_bytes / int(out_bytes), 3)

    decoded_tokens = timed(
        "decode_synthetic",
        lambda: decode_pass(stripes, TOKEN_SCHEMA).agg(F.sum("n_tok")).collect()[0][0],
        reps=codec_reps)
    assert int(decoded_tokens) == int(n_tokens), "decode token-count mismatch"
    extra["decode_GBps"] = round(input_bytes / timings["decode_synthetic"] / 1e9, 3)
    stripes.unpersist()

    # --- SF-dir pipeline + training-data ops ----------------------------
    if not CODEC_ONLY:
        q = reg.queries()
        for name in ["roundtrip_tokens", "roundtrip_lineitem", "minhash_lsh_pairs",
                     "simhash", "embedding_topk", "exact_dedup", "lineitem_agg",
                     "ann_lsh_topk", "decode_rowgroup_pruned"]:
            # min-of-3 on every per-query number: single-shot timings on
            # this host swing 2-3x with tenancy (BASELINE.md), so the
            # recorded figures must be self-adjudicating
            timed(name, lambda name=name: q[name](spark, SF_DIR).count(), reps=3)

    with open(DETAIL_PATH, "w") as f:
        json.dump({"ext_load_max": EXT_LOAD_MAX, "rep_detail": rep_detail},
                  f)
    print(headline(timings, extra, rep_detail,
                   RETRY_BUDGET - retry_budget[0], DETAIL_PATH))
    spark.stop()


def headline(timings: dict, extra: dict, rep_detail: dict,
             retries_used: int, detail_path: str) -> str:
    """The run's last stdout line: one compact JSON object of the
    per-query best times, the codec figures and the pollution flag.
    Every rep's record goes to the `detail_path` sidecar instead, so the
    line stays short enough to survive a truncated stdout tail."""
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    return json.dumps({
        "metric": "headline_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "extra": extra,
        "polluted": any(d["polluted"] for d in rep_detail.values()),
        "retries_used": retries_used,
        "detail": detail_path,
    }, separators=(",", ":"))


if __name__ == "__main__":
    main()
