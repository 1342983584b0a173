"""Single-core kernel profiler: builds one canonical token stripe
(same generator as bench.py's corpus) and times/profiles the stripe
encode + decode paths and the raw RLEv2 kernel.

It also times encode and decode on a set of benchmark-shaped stripes:
~150k tokens each, built from generator parts of 199 docs, which
(unlike the large stripe) hold no 100k-400k-token outlier docs.  Those
stripes have many more, shorter RLEv2 blocks of many widths, so
per-block and per-width overheads show there that the large stripe
hides.

`--orc LINEITEM_PARQUET` times the ORC file path instead: `write_orc`,
`read_orc` and `pyarrow.orc.read_table` on a zlib ORC file of that
parquet (the sf0.1 `lineitem` is the standing input), in-process.

Usage: python tools/profile_kernel.py [--profile] [--tokens N]
       python tools/profile_kernel.py --orc <sf0.1 dir>/lineitem.parquet
"""

from __future__ import annotations

import argparse
import cProfile
import pstats
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from orc_rust_spark.functions.tokens import synthesize_tokens_pandas
from orc_rust_spark.stripes import encode_stripe, decode_stripe
from orc_rust_spark.kernels.rle_v2 import rle_v2_encode, rle_v2_decode


# benchmark-shaped stripes timed beside the large one (~1.4M tokens)
SET_STRIPES = 8


def build_stripe(n_target: int, docs_per_part: int = 400,
                 first_part: int = 0) -> tuple[pa.RecordBatch, np.ndarray]:
    rows = []
    part = first_part
    total = 0
    while total < n_target:
        chunk = synthesize_tokens_pandas(docs_per_part, seed=42, part=part)
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


def best_of(reps: int, fn) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def time_stripe_set(n_stripes: int, reps: int) -> None:
    """Encode and decode ns/token on benchmark-shaped stripes (~150k
    tokens, parts of 199 docs), beside the large-stripe figures printed
    above."""
    stripes = [build_stripe(150_000, docs_per_part=199, first_part=1000 * k)
               for k in range(n_stripes)]
    n_tok = sum(len(flat) for _, flat in stripes)
    flats = [flat.astype(np.int64) for _, flat in stripes]

    def kernel_encode():
        return [rle_v2_encode(flat, signed=False) for flat in flats]

    def stripe_encode():
        return [encode_stripe(batch) for batch, _ in stripes]

    bufs = kernel_encode()
    blobs = stripe_encode()

    def kernel_decode():
        for buf, flat in zip(bufs, flats):
            rle_v2_decode(buf, len(flat), signed=False)

    def stripe_decode():
        for blob in blobs:
            decode_stripe(blob)

    kernel_decode()
    print(f"stripe set: {n_stripes} stripes, {n_tok} tokens "
          f"({n_tok // n_stripes} per stripe)")
    for name, fn in [("rle_v2_encode", kernel_encode),
                     ("encode_stripe", stripe_encode),
                     ("rle_v2_decode", kernel_decode),
                     ("decode_stripe", stripe_decode)]:
        print(f"{name}(set): {best_of(reps, fn) / n_tok * 1e9:.1f} "
              f"ns/token")


def time_orc(parquet: str, reps: int) -> None:
    """write_orc, read_orc and pyarrow.orc.read_table ms on a zlib ORC
    file of `parquet`, best of `reps`."""
    import pyarrow.orc as po
    import pyarrow.parquet as pq
    from orc_rust_spark.sources.orc_reader import read_orc
    from orc_rust_spark.sources.orc_writer import write_orc

    tbl = pq.read_table(parquet)
    with tempfile.TemporaryDirectory() as d:
        path = str(Path(d) / "lineitem.orc")
        write_s = best_of(reps, lambda: write_orc(path, tbl, compression=1))
        if not read_orc(path).equals(po.read_table(path)):
            raise SystemExit("read_orc and pyarrow read different tables")
        read_s = best_of(reps, lambda: read_orc(path))
        pa_s = best_of(reps, lambda: po.read_table(path))
        size = Path(path).stat().st_size
    print(f"orc file: {tbl.num_rows} rows, {tbl.nbytes / 1e6:.1f} MB Arrow, "
          f"{size / 1e6:.1f} MB zlib ORC")
    print(f"write_orc: {write_s * 1e3:.0f} ms")
    print(f"read_orc: {read_s * 1e3:.0f} ms "
          f"({read_s / pa_s:.2f}x pyarrow)")
    print(f"pyarrow.orc.read_table: {pa_s * 1e3:.0f} ms")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--decode-profile", action="store_true")
    ap.add_argument("--tokens", type=int, default=1 << 21)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--orc", metavar="LINEITEM_PARQUET",
                    help="time the ORC writer and reader on this parquet "
                         "file instead of the token stripes")
    args = ap.parse_args()
    if args.orc:
        time_orc(args.orc, args.reps)
        return

    batch, flat = build_stripe(args.tokens)
    nbytes = flat.nbytes
    print(f"stripe: {batch.num_rows} rows, {len(flat)} tokens, "
          f"{nbytes / 1e6:.1f} MB int32 payload")

    # raw kernel on the flat token stream
    for _ in range(2):
        buf = rle_v2_encode(flat.astype(np.int64), signed=False)
    best = best_of(args.reps,
                   lambda: rle_v2_encode(flat.astype(np.int64), signed=False))
    print(f"rle_v2_encode(flat): {nbytes / best / 1e6:.1f} MB/s "
          f"({best:.3f}s, {len(buf)} out bytes)")
    for _ in range(2):
        rle_v2_decode(buf, len(flat), signed=False)
    best = best_of(args.reps,
                   lambda: rle_v2_decode(buf, len(flat), signed=False))
    print(f"rle_v2_decode(flat): {nbytes / best / 1e6:.1f} MB/s "
          f"({best / len(flat) * 1e9:.1f} ns/value)")

    # full stripe encode/decode
    for _ in range(1):
        blob = encode_stripe(batch)
    best = best_of(args.reps, lambda: encode_stripe(batch))
    print(f"encode_stripe: {nbytes / best / 1e6:.1f} MB/s "
          f"({best:.3f}s, {len(blob)} blob bytes, "
          f"ratio {batch.nbytes / len(blob):.2f}x)")
    best = best_of(args.reps, lambda: decode_stripe(blob))
    print(f"decode_stripe: {nbytes / best / 1e6:.1f} MB/s ({best:.3f}s, "
          f"{best / len(flat) * 1e9:.1f} ns/value)")
    time_stripe_set(SET_STRIPES, args.reps)

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
