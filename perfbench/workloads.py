"""The benchmark's workloads: seeded inputs, the timed operations and
the oracles every operation's result is checked against.

Each workload offers three phases with the same meaning, so every
end-to-end metric is defined on every workload:

- ``write``: encode the source into the engine's stored format;
- ``scan``: decode the whole stored data set and aggregate it;
- ``lookup``: read one seeded key range and aggregate it.

An op runs the timed work and returns a check: a callable, run after
the clock stops, that returns ``None`` when the op's result matches the
oracle, else a one-line description of the mismatch.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as pa_orc
import pyarrow.parquet as pq

import pyspark.sql.functions as F

from orc_rust_spark.functions.tokens import (TOKEN_SCHEMA,
                                             synthesize_tokens_pandas)
from orc_rust_spark.operators.decode import decode_pass
from orc_rust_spark.plans.pipeline import (TOKEN_PA_SCHEMA, decode_corpus,
                                           read_manifest, read_stripes)
from orc_rust_spark.sources.orc_spark import read_orc_spark, write_orc_spark
from orc_rust_spark.sources.parquet_arrow import scan_encode_parquet

ZLIB = 1


@dataclass(frozen=True)
class Scale:
    tokens_docs: int
    lineitem_orders: int
    lookup_ranges: int = 64


SCALES = {
    "full": Scale(tokens_docs=16_000, lineitem_orders=64_000),
    "tiny": Scale(tokens_docs=1_200, lineitem_orders=3_000, lookup_ranges=8),
}


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _stratified_starts(bounds, width: int, n: int, seed) -> list[int]:
    """`n` seeded range starts; start i lies in stratum i % strata, so
    every run's first lookups cover the key space evenly whatever its
    length.  Strata are [bounds[j], bounds[j + 1])."""
    rng = np.random.default_rng(seed)
    strata = len(bounds) - 1
    out = []
    for i in range(n):
        lo, hi = bounds[i % strata], bounds[i % strata + 1]
        out.append(int(lo + rng.integers(0, max(hi - lo - width, 1))))
    return out


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


class TokensWorkload:
    """Synthetic pre-tokenized corpus (``functions.tokens``) as parquet,
    encoded into a stripe store.

    write  = fused parquet scan + stripe encode (``scan_encode_parquet``)
    scan   = ``decode_pass`` of every column of the store, with a hash
             aggregate over (doc_id, tokens)
    lookup = ``decode_corpus`` of a seeded doc_id range spanning about
             half a stripe, projected to (doc_id, n_tok, source), so the
             token stream is never decoded
    """

    name = "tokens"
    round = ("write", "scan", "lookup", "lookup")

    def __init__(self, spark, seed: int, workdir: str, scale: Scale):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.n_docs = scale.tokens_docs
        # under 200 docs per synthesis partition: functions.tokens then
        # adds no 100k-400k-token outlier docs, which would otherwise
        # hold ~40% of the tokens and swing every figure with the seed
        self.synth_parts = math.ceil(self.n_docs / 199)
        # one scan+encode task per file, four per slot on a 4-slot host
        self.n_files = min(16, self.synth_parts)
        self.corpus = os.path.join(workdir, "corpus")
        self.store = os.path.join(workdir, "store")

    def _synthesize(self) -> None:
        """The corpus ``synthesize_tokens(spark, n_docs, seed,
        synth_parts)`` makes, generated here and written by pyarrow:
        Spark's own parquet writer spends ~5x longer on the token arrays
        than the generator does."""
        per_part = [self.n_docs // self.synth_parts] * self.synth_parts
        for i in range(self.n_docs % self.synth_parts):
            per_part[i] += 1
        os.makedirs(self.corpus)
        groups = np.array_split(np.arange(self.synth_parts), self.n_files)
        for f, parts in enumerate(groups):
            rows = [r for p in parts
                    for r in synthesize_tokens_pandas(per_part[p], self.seed,
                                                      int(p))]
            offsets = np.zeros(len(rows) + 1, dtype=np.int32)
            np.cumsum([r[2] for r in rows], out=offsets[1:])
            tokens = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(np.concatenate([r[1] for r in rows])))
            pq.write_table(pa.table(
                [pa.array([r[0] for r in rows]), tokens,
                 pa.array([r[2] for r in rows], pa.int32()),
                 pa.array([r[3] for r in rows])],
                schema=TOKEN_PA_SCHEMA),
                os.path.join(self.corpus, f"part-{f:03d}.parquet"))

    def synthesize(self) -> None:
        _rmtree(self.corpus)
        self._synthesize()
        src = pq.read_table(self.corpus, columns=["doc_id", "n_tok"]) \
            .sort_by("doc_id")
        self.doc_ids = src.column("doc_id").to_numpy(zero_copy_only=False)
        n_tok = src.column("n_tok").to_numpy().astype(np.int64)
        self.cum_tok = np.concatenate([[0], np.cumsum(n_tok)])
        self.n_tokens = int(self.cum_tok[-1])
        # two stripes per scan+encode task
        self.stripe_tokens = max(self.n_tokens // (2 * self.n_files), 1)

    def setup(self) -> None:
        _rmtree(self.store)
        scan_encode_parquet(self.spark, self.corpus,
                            stripe_tokens=self.stripe_tokens) \
            .write.parquet(os.path.join(self.store, "wave=0"))

    def prepare_checks(self) -> None:
        """Oracles and seeded lookup ranges, once after set-up."""
        man = read_manifest(self.spark, self.store) \
            .agg(F.count("*"), F.sum("output_bytes"), F.sum("n_tokens")) \
            .collect()[0]
        self.n_stripes, self.store_bytes, store_tokens = (int(v) for v in man)
        if store_tokens != self.n_tokens:
            raise RuntimeError(f"store holds {store_tokens} tokens, "
                               f"corpus {self.n_tokens}")
        self.scan_oracle = tuple(self.spark.read.parquet(self.corpus).agg(
            F.bit_xor(F.xxhash64("doc_id", "tokens")), F.sum("n_tok"),
            F.count("*")).collect()[0])
        width = max(self.n_docs // (2 * self.n_stripes), 1)
        strata = np.linspace(0, self.n_docs, self.round.count("lookup") + 1)
        self.ranges = [(s, s + width - 1) for s in _stratified_starts(
            strata.astype(int), width, self.scale.lookup_ranges,
            [self.seed, 1])]

    @property
    def payload_bytes(self) -> int:
        """int32 token payload: what the MB/s figures are normalized by."""
        return 4 * self.n_tokens

    @property
    def stored_bytes_per_value(self) -> float:
        return self.store_bytes / self.n_tokens

    def write(self, k: int):
        out_bytes, n_tok, n_rows = scan_encode_parquet(
            self.spark, self.corpus, stripe_tokens=self.stripe_tokens) \
            .agg(F.sum("output_bytes"), F.sum("n_tokens"),
                 F.sum("n_rows")).collect()[0]
        return lambda: (
            _mismatch("encoded tokens", int(n_tok), self.n_tokens)
            or _mismatch("encoded rows", int(n_rows), self.n_docs)
            or _mismatch("encoded bytes", int(out_bytes), self.store_bytes))

    def scan(self, k: int):
        got = decode_pass(read_stripes(self.spark, self.store),
                          TOKEN_SCHEMA).agg(
            F.bit_xor(F.xxhash64("doc_id", "tokens")), F.sum("n_tok"),
            F.count("*")).collect()[0]
        return lambda: _mismatch("decoded (hash, tokens, rows)", tuple(got),
                                 self.scan_oracle)

    def lookup(self, k: int):
        i, j = self.ranges[k % len(self.ranges)]
        lo, hi = str(self.doc_ids[i]), str(self.doc_ids[j])
        tbl = decode_corpus(self.spark, self.store,
                            columns=["doc_id", "n_tok", "source"],
                            doc_id_range=(lo, hi)).toArrow()
        self.rows_returned = tbl.num_rows
        want = (j - i + 1, int(self.cum_tok[j + 1] - self.cum_tok[i]))
        return lambda: _mismatch(
            "lookup (rows, tokens)",
            (tbl.num_rows, int(pc.sum(tbl.column("n_tok")).as_py() or 0)),
            want)


_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP",
                       "TRUCK"])
_WORDS = np.array(["carefully", "final", "deposits", "sleep", "quickly",
                   "regular", "accounts", "haggle", "furiously", "ironic",
                   "packages", "blithely", "express", "requests", "bold",
                   "pending", "theodolites", "wake", "slyly", "even"])


def synthesize_lineitem(n_orders: int, seed: int) -> pa.Table:
    """TPC-H-shaped lineitem rows, sorted on l_orderkey: int64 keys,
    double measures, low-cardinality and free-text strings and a
    timestamp, so every ORC column path the writer and reader have is
    exercised."""
    rng = np.random.default_rng([seed, 2])
    orderkeys = np.cumsum(rng.integers(1, 4, n_orders)).astype(np.int64)
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    okey = np.repeat(orderkeys, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - first + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2000.0, n), 2)
    discount = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    day0 = np.datetime64("1992-01-02", "us")
    shipdate = day0 + rng.integers(0, 2526, n) * np.timedelta64(86_400_000_000, "us")
    words = [pa.array(_WORDS[rng.integers(0, len(_WORDS), n)])
             for _ in range(4)]
    comment = pc.binary_join_element_wise(*words, " ")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_000, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": discount,
        "l_tax": tax,
        "l_returnflag": flags,
        "l_linestatus": status,
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        "l_shipmode": _SHIPMODES[rng.integers(0, len(_SHIPMODES), n)],
        "l_comment": comment,
    })


LINEITEM_COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                    "l_returnflag", "l_linestatus", "l_shipdate",
                    "l_shipmode", "l_comment"]


def _scan_aggs():
    return (F.count("*"), F.sum("l_orderkey"), F.sum("l_quantity"),
            F.bit_xor(F.xxhash64(*LINEITEM_COLUMNS)))


class LineitemOrcWorkload:
    """Synthetic lineitem sorted on l_orderkey, as parquet files of
    contiguous key ranges, written to ORC with zlib and a row index.

    write  = ``write_orc_spark`` of the parquet source
    scan   = full ``read_orc_spark`` with a hash aggregate of every column
    lookup = ``read_orc_spark(predicate=...)`` on a seeded l_orderkey
             range (about an eighth of a stripe) plus an exact filter
    """

    name = "lineitem_orc"
    round = ("write", "scan", "lookup", "lookup")
    stripe_rows = 1 << 14
    row_index_stride = 4096

    def __init__(self, spark, seed: int, workdir: str, scale: Scale):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        # one file per task on four slots, so the tasks are balanced
        self.n_files = 4
        self.src = os.path.join(workdir, "lineitem_parquet")
        self.store = os.path.join(workdir, "lineitem_orc")
        self.scratch = os.path.join(workdir, "lineitem_orc_write")

    def _write(self, out_dir: str):
        """Run write_orc_spark; (rows, bytes) from its manifest."""
        _rmtree(out_dir)
        rows = write_orc_spark(self.src_df, out_dir, compression=ZLIB,
                               stripe_rows=self.stripe_rows,
                               row_index_stride=self.row_index_stride) \
            .collect()
        return sum(r.n_rows for r in rows), sum(r.n_bytes for r in rows)

    def synthesize(self) -> None:
        _rmtree(self.src)
        os.makedirs(self.src)
        tbl = synthesize_lineitem(self.scale.lineitem_orders, self.seed)
        n = tbl.num_rows
        bounds = np.linspace(0, n, self.n_files + 1).astype(int)
        for f in range(self.n_files):
            pq.write_table(tbl.slice(bounds[f], bounds[f + 1] - bounds[f]),
                           os.path.join(self.src, f"part-{f:03d}.parquet"))
        self.table = tbl
        self.src_df = self.spark.read.parquet(self.src)

    def setup(self) -> None:
        self.written = self._write(self.store)

    def prepare_checks(self) -> None:
        """Oracles and seeded lookup ranges, once after set-up."""
        tbl = self.table
        n = self.n_rows = tbl.num_rows
        self.arrow_bytes = tbl.nbytes
        self.okey = tbl.column("l_orderkey").to_numpy()
        qty = tbl.column("l_quantity").to_numpy()
        self.cum_qty = np.concatenate([[0.0], np.cumsum(qty)])
        self.scan_oracle = tuple(self.src_df.agg(*_scan_aggs()).collect()[0])
        rows, self.store_bytes = self.written
        if rows != n:
            raise RuntimeError(f"ORC store holds {rows} rows, source {n}")
        width = max(self.stripe_rows // 8, 1)
        strata = np.linspace(0, n, self.round.count("lookup") + 1)
        self.ranges = [(int(self.okey[s]), int(self.okey[s + width - 1]))
                       for s in _stratified_starts(
                           strata.astype(int), width,
                           self.scale.lookup_ranges, [self.seed, 3])]

    @property
    def payload_bytes(self) -> int:
        """Arrow bytes of the source table."""
        return self.arrow_bytes

    @property
    def stored_bytes_per_value(self) -> float:
        return self.store_bytes / self.n_rows

    def write(self, k: int):
        rows, nbytes = self._write(self.scratch)
        return lambda: (
            _mismatch("written rows", rows, self.n_rows)
            or _mismatch("written bytes", nbytes, self.store_bytes)
            or self._check_written())

    def _check_written(self) -> str | None:
        """Content of the written files, through pyarrow's independent
        ORC reader."""
        tbls = [pa_orc.ORCFile(os.path.join(self.scratch, f))
                .read(columns=["l_orderkey", "l_quantity"])
                for f in sorted(os.listdir(self.scratch))]
        got = (sum(t.num_rows for t in tbls),
               sum(pc.sum(t.column("l_orderkey")).as_py() for t in tbls),
               sum(pc.sum(t.column("l_quantity")).as_py() for t in tbls))
        return _mismatch("written (rows, keys, quantity)", got,
                         self.scan_oracle[:3])

    def _read(self, **kwargs):
        """read_orc_spark, timing its driver-side planning."""
        t0 = time.perf_counter()
        df = read_orc_spark(self.spark, self.store, **kwargs)
        self.plan_s = time.perf_counter() - t0
        return df

    def scan(self, k: int):
        got = self._read().agg(*_scan_aggs()).collect()[0]
        return lambda: _mismatch("scanned (rows, keys, quantity, hash)",
                                 tuple(got), self.scan_oracle)

    def lookup(self, k: int):
        lo, hi = self.ranges[k % len(self.ranges)]
        df = self._read(predicate={"l_orderkey": (lo, hi)})
        cnt, qty = df.filter(F.col("l_orderkey").between(lo, hi)).agg(
            F.count("*"), F.sum("l_quantity")).collect()[0]
        self.rows_returned = int(cnt)
        i = int(np.searchsorted(self.okey, lo, side="left"))
        j = int(np.searchsorted(self.okey, hi, side="right"))
        want = (j - i, float(self.cum_qty[j] - self.cum_qty[i]))
        return lambda: _mismatch("lookup (rows, quantity)",
                                 (int(cnt), float(qty or 0.0)), want)


WORKLOADS = {w.name: w for w in (TokensWorkload, LineitemOrcWorkload)}
