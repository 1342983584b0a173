"""Single-core kernel profiler: builds one canonical token stripe
(same generator as bench.py's corpus) and times/profiles the stripe
encode + decode paths and the raw RLEv2 kernel.

Usage: python tools/profile_kernel.py [--profile] [--tokens N]
"""

from __future__ import annotations

import argparse
import cProfile
import pstats
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from orc_rust_spark.functions.tokens import synthesize_tokens_pandas
from orc_rust_spark.stripes import encode_stripe, decode_stripe
from orc_rust_spark.kernels.rle_v2 import rle_v2_encode, rle_v2_decode


def build_stripe(n_target: int) -> tuple[pa.RecordBatch, np.ndarray]:
    rows = []
    part = 0
    total = 0
    while total < n_target:
        chunk = synthesize_tokens_pandas(400, seed=42, part=part)
        rows.extend(chunk)
        total += sum(r[2] for r in chunk)
        part += 1
    doc_id = pa.array([r[0] for r in rows])
    toks = [r[1] for r in rows]
    flat = np.concatenate(toks)
    tokens = pa.array(toks, type=pa.list_(pa.int32()))
    n_tok = pa.array([r[2] for r in rows], type=pa.int32())
    source = pa.array([r[3] for r in rows])
    batch = pa.RecordBatch.from_arrays(
        [doc_id, tokens, n_tok, source],
        names=["doc_id", "tokens", "n_tok", "source"])
    return batch, flat


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--decode-profile", action="store_true")
    ap.add_argument("--tokens", type=int, default=1 << 21)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    batch, flat = build_stripe(args.tokens)
    nbytes = flat.nbytes
    print(f"stripe: {batch.num_rows} rows, {len(flat)} tokens, "
          f"{nbytes / 1e6:.1f} MB int32 payload")

    # raw kernel on the flat token stream
    for _ in range(2):
        buf = rle_v2_encode(flat.astype(np.int64), signed=False)
    best = min(
        (lambda t0=time.perf_counter(): (
            rle_v2_encode(flat.astype(np.int64), signed=False),
            time.perf_counter() - t0)[1])()
        for _ in range(args.reps))
    print(f"rle_v2_encode(flat): {nbytes / best / 1e6:.1f} MB/s "
          f"({best:.3f}s, {len(buf)} out bytes)")
    for _ in range(2):
        rle_v2_decode(buf, len(flat), signed=False)
    best = min(
        (lambda t0=time.perf_counter(): (
            rle_v2_decode(buf, len(flat), signed=False),
            time.perf_counter() - t0)[1])()
        for _ in range(args.reps))
    print(f"rle_v2_decode(flat): {nbytes / best / 1e6:.1f} MB/s")

    # full stripe encode/decode
    for _ in range(1):
        blob = encode_stripe(batch)
    best = min(
        (lambda t0=time.perf_counter(): (
            encode_stripe(batch), time.perf_counter() - t0)[1])()
        for _ in range(args.reps))
    print(f"encode_stripe: {nbytes / best / 1e6:.1f} MB/s "
          f"({best:.3f}s, {len(blob)} blob bytes, "
          f"ratio {batch.nbytes / len(blob):.2f}x)")
    best = min(
        (lambda t0=time.perf_counter(): (
            decode_stripe(blob), time.perf_counter() - t0)[1])()
        for _ in range(args.reps))
    print(f"decode_stripe: {nbytes / best / 1e6:.1f} MB/s ({best:.3f}s)")

    if args.profile:
        pr = cProfile.Profile()
        pr.enable()
        encode_stripe(batch)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(40)
    if args.decode_profile:
        pr = cProfile.Profile()
        pr.enable()
        decode_stripe(blob)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(40)


if __name__ == "__main__":
    main()
