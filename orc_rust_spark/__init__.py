"""orc_rust_spark — a PySpark-native columnar lightweight-compression engine.

From-scratch reimplementation of the encoding surface of the reference
ORC reader/writer (progval/orc-rust, studied at /root/reference) as
vectorized numpy/Arrow kernels driven by Spark DataFrames:

- ``kernels/``   pure-numpy codecs (ORC RLEv1/RLEv2, byte-RLE, boolean
                 bit-RLE, varint/zigzag, bit-packing, dictionary, FoR,
                 FSST, float direct, block compression, blooms) and the
                 shared Arrow assembly — no Spark dependency.
- ``stripes.py`` the native stripe codec: an Arrow batch <-> one stripe
                 blob (``OSP1``, or ``OSPR`` with a row-group index).
- ``operators/`` Spark passes over ``mapInArrow``: the token stripe
                 encode (stripe cut and lineage manifest) and decode,
                 any-relation encode/decode, plus training-data ops
                 (similarity, multimodal).
- ``sources/``   real ORC files (reader, writer, Spark source/sink, CLI
                 tools), the one statistics producer and ColumnStatistics
                 codec of every writer (``orc_format.py``), the
                 Arrow-native parquet scan, predicate pruning, row
                 selection and the task plan that reads small inputs
                 in-process and the rest on Spark.
- ``functions/`` token-table synthesis and tokenization.
- ``plans/``     pipeline orchestration: the stripe store (encode waves,
                 idempotent resume, store reads) and the statistics
                 sampling pass that routes columns to codecs.
- ``streaming/`` structured-streaming encode path.
- ``queries.py`` the (Spark query, DuckDB oracle) registry.

Design stance (SURVEY.md §7): this is NOT a port — Spark/Catalyst
supplies scan, pruning, shuffle and aggregation; the custom code is the
codec kernels and the block-level codec decision tree, which must match
the reference bit-for-bit (SURVEY.md §4.3, §4.4).
"""

import os

__version__ = "0.2.0"

# Spark's PythonWorkerFactory sets this variable for its Python workers
# and their daemon only; a package UDF imports this package when it is
# unpickled, so a reused worker runs its later tasks guarded.
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    from orc_rust_spark.worker_init import guard_zip_invalidation
    guard_zip_invalidation()


def __getattr__(name):
    """Lazy public API (keeps bare `import orc_rust_spark` Spark-free
    for kernel-only use).  Reference-surface mapping:

    orc-rust `ArrowReader`  -> `read_orc` (Arrow) / `read_orc_spark`
    orc-rust `ArrowWriter`  -> `write_orc` / `OrcWriter` / `write_orc_spark`
    `read_metadata`         -> `read_metadata` / `orc_file_stats`
    `Predicate` (fork)      -> `Predicate` (stripe + row-group skip)
    `RowSelection` (fork)   -> `RowSelection` (exact skip/select runs)
    stripe engine           -> `encode_stripe` / `decode_stripe` (+
                               `encode_stripe_rowgroups` row-group index)
    CLI bins                -> python -m orc_rust_spark.sources.orc_tools
    """
    lazy = {
        "Predicate": ("orc_rust_spark.sources.predicate", "Predicate"),
        "ColStats": ("orc_rust_spark.sources.predicate", "ColStats"),
        "RowSelection": ("orc_rust_spark.sources.row_selection",
                         "RowSelection"),
        "RowSelector": ("orc_rust_spark.sources.row_selection",
                        "RowSelector"),
        "read_orc": ("orc_rust_spark.sources.orc_reader", "read_orc"),
        "read_metadata": ("orc_rust_spark.sources.orc_reader", "read_metadata"),
        "write_orc": ("orc_rust_spark.sources.orc_writer", "write_orc"),
        "OrcWriter": ("orc_rust_spark.sources.orc_writer", "OrcWriter"),
        "read_orc_spark": ("orc_rust_spark.sources.orc_spark", "read_orc_spark"),
        "write_orc_spark": ("orc_rust_spark.sources.orc_spark", "write_orc_spark"),
        "orc_file_stats": ("orc_rust_spark.sources.orc_spark", "orc_file_stats"),
        "encode_stripe": ("orc_rust_spark.stripes", "encode_stripe"),
        "decode_stripe": ("orc_rust_spark.stripes", "decode_stripe"),
        "encode_stripe_rowgroups": ("orc_rust_spark.stripes",
                                    "encode_stripe_rowgroups"),
        "decode_stripe_rowgroups": ("orc_rust_spark.stripes",
                                    "decode_stripe_rowgroups"),
    }
    if name in lazy:
        import importlib
        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'orc_rust_spark' has no attribute {name!r}")
