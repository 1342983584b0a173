"""Deterministic token-table synthesis + tokenization.

The engine's primary input is an Iceberg/parquet table
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)
(BASELINE.json input_hint).  Two deterministic sources:

1. ``synthesize_tokens`` — pure seeded generator (FIXTURES.md F1/F2):
   per-doc mixtures of runs, monotonic ramps, zipf ids and rare
   outliers so every RLEv2 sub-encoding is exercised; lognormal
   lengths with a heavy tail for skew tests.
2. ``tokens_from_documents`` — derives tokens from the driver-provided
   ``documents`` table with a stable word-hash tokenizer (vectorized,
   no per-row Python beyond numpy string ops inside an Arrow batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from ..sources.task_plan import map_units

TOKEN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])

_SOURCES = np.array(["web", "code", "books", "wiki"])
_SOURCE_W = np.array([0.58, 0.22, 0.12, 0.08])
VOCAB = 50257  # GPT-2-ish vocab size for realism


def _gen_doc_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded mixture: zipf ids + runs + ramps + rare huge outliers."""
    mode = rng.integers(0, 10)
    if mode < 6:
        # zipf-weighted vocabulary draw (typical text)
        toks = (rng.zipf(1.3, n) - 1) % VOCAB
    elif mode < 7:
        # long runs (pad-token stretches)
        n_runs = max(n // max(int(rng.integers(50, 600)), 1), 1)
        vals = rng.integers(0, 100, n_runs)
        reps = rng.integers(30, 700, n_runs)
        toks = np.repeat(vals, reps)[:n]
        if len(toks) < n:
            toks = np.concatenate([toks, rng.integers(0, VOCAB, n - len(toks))])
    elif mode < 8:
        # monotonic ramps (position-id-like)
        toks = np.arange(n) % VOCAB + rng.integers(0, 3, n).cumsum() % 7
        toks = np.sort(toks)
    else:
        # small values with rare outliers (patched-base shape)
        toks = rng.integers(0, 512, n)
        n_out = max(n // 100, 1)
        toks[rng.integers(0, n, n_out)] = rng.integers(VOCAB - 100, VOCAB, n_out)
    return toks.astype(np.int32)


def synthesize_tokens_pandas(n_docs: int, seed: int = 42, part: int = 0):
    """One partition's worth of synthetic docs as arrays (driver/test use)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, part]))
    lens = np.minimum(rng.lognormal(5.0, 1.2, n_docs).astype(np.int64) + 1, 200_000)
    # a few huge outlier docs (skew fixture F7)
    n_huge = max(n_docs // 1000, 1) if n_docs >= 200 else 0
    if n_huge:
        lens[rng.integers(0, n_docs, n_huge)] = rng.integers(100_000, 400_000, n_huge)
    sources = rng.choice(_SOURCES, n_docs, p=_SOURCE_W)
    rows = []
    for i in range(n_docs):
        toks = _gen_doc_tokens(rng, int(lens[i]))
        rows.append((f"doc{part:05d}{i:010d}", toks, len(toks), str(sources[i])))
    return rows


def synthesize_tokens(spark: SparkSession, n_docs: int, seed: int = 42,
                      partitions: int = 32) -> DataFrame:
    """Distributed deterministic synthesis: `partitions` generator parts,
    each seeded by (seed, part), so the table is identical across runs
    and cluster sizes.  Parts are packed onto one Spark task per slot
    (`sources.task_plan`); emits one Arrow batch per part (no per-row
    Python)."""
    per_part = [n_docs // partitions] * partitions
    for i in range(n_docs % partitions):
        per_part[i] += 1

    def gen(part: int, cnt: int) -> Iterator[pa.RecordBatch]:
        rows = synthesize_tokens_pandas(cnt, seed, part)
        if not rows:
            return
        doc_ids = pa.array([r[0] for r in rows], pa.string())
        flat = np.concatenate([r[1] for r in rows])
        offsets = np.zeros(len(rows) + 1, dtype=np.int32)
        np.cumsum([len(r[1]) for r in rows], out=offsets[1:])
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(flat, pa.int32()))
        n_tok = pa.array([r[2] for r in rows], pa.int32())
        source = pa.array([r[3] for r in rows], pa.string())
        yield pa.record_batch([doc_ids, tokens, n_tok, source],
                              names=["doc_id", "tokens", "n_tok", "source"])

    return map_units(spark, per_part, per_part, gen, TOKEN_SCHEMA)


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def hash_word(w: str) -> int:
    """FNV-1a 64 truncated into [0, VOCAB) — stable across runs/processes.
    Scalar reference; the batch path below is the vectorized equivalent."""
    h = _FNV_OFFSET
    for b in w.encode():
        h = ((h ^ b) * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return int(h % VOCAB)


def _fnv1a_words(data: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a 64 over variable-length byte slices: iterate
    byte POSITIONS (bounded by the longest word), updating every
    still-alive word's hash per step — O(total word bytes) numpy work
    with no per-word Python.  uint64 multiply wraps, matching the
    scalar's explicit & mask."""
    n = len(starts)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if n == 0:
        return h
    prime = np.uint64(_FNV_PRIME)
    max_len = int(lens.max()) if n else 0
    order = np.argsort(lens, kind="stable")
    # process in descending-length order so the alive set is a prefix:
    # each step is a contiguous slice, not a masked gather
    order = order[::-1]
    s_sorted = starts[order]
    l_sorted = lens[order]
    h_sorted = h.copy()
    # alive_count[j] = how many words have length > j
    for j in range(max_len):
        alive = int(np.searchsorted(-l_sorted, -(j + 1), side="right"))
        if alive == 0:
            break
        b = data[s_sorted[:alive] + j].astype(np.uint64)
        h_sorted[:alive] = (h_sorted[:alive] ^ b) * prime
    h[order] = h_sorted
    return h


def _hash_tokenize_batch(texts: pa.Array) -> pa.Array:
    """Stable word-hash tokenizer over an Arrow string column —
    fully vectorized (Arrow whitespace split + numpy FNV-1a), output
    identical to ``[hash_word(w) for w in t.split()]`` per row."""
    import pyarrow.compute as pc
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    lst = pc.utf8_split_whitespace(texts)
    n_rows = len(lst)
    word_counts = pc.list_value_length(lst).fill_null(0) \
        .to_numpy(zero_copy_only=False).astype(np.int64)
    words = lst.flatten()
    if isinstance(words, pa.ChunkedArray):
        words = words.combine_chunks()
    nw = len(words)
    if nw == 0:
        offs = np.zeros(n_rows + 1, dtype=np.int32)
        return pa.ListArray.from_arrays(pa.array(offs, pa.int32()),
                                        pa.array([], pa.int32()))
    wb = words.cast(pa.large_utf8())
    raw_offsets = np.frombuffer(wb.buffers()[1], dtype=np.int64)
    offsets = raw_offsets[wb.offset: wb.offset + nw + 1]
    data = np.frombuffer(wb.buffers()[2], dtype=np.uint8)
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    ids64 = _fnv1a_words(data, starts, lens) % np.uint64(VOCAB)
    # Arrow's split keeps empty strings at text edges; Python's split()
    # drops them — filter length-0 words and recount per row
    keep = lens > 0
    row_of_word = np.repeat(np.arange(n_rows, dtype=np.int64), word_counts)
    kept_counts = np.bincount(row_of_word[keep], minlength=n_rows)
    offs = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(kept_counts, out=offs[1:])
    return pa.ListArray.from_arrays(
        pa.array(offs, pa.int32()),
        pa.array(ids64[keep].astype(np.int32), pa.int32()))


def tokens_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, source, ...) -> token table via mapInArrow."""
    def tok(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            tokens = _hash_tokenize_batch(b.column("text"))
            n_tok = pa.compute.list_value_length(tokens).cast(pa.int32())
            yield pa.record_batch(
                [b.column("doc_id").cast(pa.string()), tokens,
                 n_tok, b.column("source")],
                names=["doc_id", "tokens", "n_tok", "source"])

    src = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"))
    return src.mapInArrow(tok, TOKEN_SCHEMA)
