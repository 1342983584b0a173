"""CLI tools over real ORC files — the `src/bin/orc-export.rs`,
`orc-metadata.rs` and `orc-stats.rs` analogs:

    python -m orc_rust_spark.sources.orc_tools export FILE [-o OUT]
        [-f csv|json|feather] [-n N] [-c col1,col2]
    python -m orc_rust_spark.sources.orc_tools metadata FILE [-s]
    python -m orc_rust_spark.sources.orc_tools stats FILE

Export streams the decoded table as CSV, line-delimited JSON, or
Arrow feather (the reference CLI's second format,
`src/bin/orc-export.rs:80`);
metadata prints the tail summary (rows, stripes, schema, and with -s
per-stripe rows/offsets/writer timezone); stats prints per-column
min/max/value counts aggregated from the Metadata statistics section.
"""

from __future__ import annotations

import argparse
import io
import json
import sys

from .orc_reader import arrow_schema, read_metadata, read_orc

_TK_NAMES = {
    0: "boolean", 1: "tinyint", 2: "smallint", 3: "int", 4: "bigint",
    5: "float", 6: "double", 7: "string", 8: "binary", 9: "timestamp",
    10: "list", 11: "map", 12: "struct", 13: "union", 14: "decimal",
    15: "date", 16: "varchar", 17: "char", 18: "timestamp_instant",
}


def _schema_str(meta, cid: int = 0, indent: int = 0) -> str:
    t = meta.types[cid]
    pad = "  " * indent
    name = _TK_NAMES.get(t["kind"], f"type{t['kind']}")
    lines = [f"{pad}{name}"]
    for i, sub in enumerate(t["subtypes"]):
        label = t["field_names"][i] if i < len(t["field_names"]) else str(i)
        child = _schema_str(meta, sub, indent + 1).lstrip()
        lines.append(f"{pad}  {label}: {child}")
    return "\n".join(lines)


def cmd_metadata(args) -> int:
    meta = read_metadata(args.file)
    out = args.out
    comp = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4",
            5: "ZSTD"}.get(meta.compression, str(meta.compression))
    print(f"compression: {comp}", file=out)
    print(f"number of rows: {sum(s['n_rows'] for s in meta.stripes)}",
          file=out)
    print(f"number of stripes: {len(meta.stripes)}", file=out)
    if meta.row_index_stride:
        print(f"row index stride: {meta.row_index_stride}", file=out)
    if meta.software_version:
        print(f"software version: {meta.software_version}", file=out)
    if meta.stripes:
        from .orc_format import K_BLOOM_FILTER, K_BLOOM_FILTER_UTF8
        from .orc_reader import _SpanBytes, _stripe_layout
        # metadata-only CLI: read just stripe 0's covering byte range
        # (offset..offset+index+data+footer), not the whole file
        s0 = meta.stripes[0]
        lo = s0["offset"]
        hi = lo + s0["index_length"] + s0["data_length"] \
            + s0["footer_length"]
        with open(args.file, "rb") as f:
            f.seek(lo)
            data = _SpanBytes(f.read(hi - lo), lo)
        spans, _, _ = _stripe_layout(data, meta, meta.stripes[0])
        bloom_cids = sorted(c for c, k in spans
                            if k in (K_BLOOM_FILTER, K_BLOOM_FILTER_UTF8))
        if bloom_cids:
            trust = "trusted" if meta.blooms_trusted() \
                else "untrusted writer - ignored for pruning"
            print(f"bloom filter columns: {bloom_cids} ({trust})",
                  file=out)
    print(f"schema:\n{_schema_str(meta)}", file=out)
    if args.stripes:
        print("\n=== Stripes ===", file=out)
        for i, s in enumerate(meta.stripes):
            print(f"stripe index: {i}", file=out)
            print(f"number of rows: {s['n_rows']}", file=out)
            print(f"offset: {s['offset']}  index: {s['index_length']}  "
                  f"data: {s['data_length']}  footer: {s['footer_length']}",
                  file=out)
    return 0


def cmd_stats(args) -> int:
    meta = read_metadata(args.file)
    out = args.out
    root = meta.types[0]
    for i, nm in enumerate(root["field_names"]):
        cid = root["subtypes"][i]
        print(f"column: {nm}", file=out)
        mn = mx = None
        n_values = 0
        has_null = False
        for ss in meta.stripe_stats:
            st = ss.get(cid)
            if st is None:
                continue
            if st.n_values:
                n_values += st.n_values
            has_null = has_null or bool(st.has_null)
            if st.min is not None:
                mn = st.min if mn is None else min(mn, st.min)
                # a NaN max marks a unit holding NaN: it stays the max
                mx = st.max if mx is None or st.max != st.max \
                    else max(mx, st.max)
        if mn is not None:
            print(f"* Minimum: {mn}", file=out)
            print(f"* Maximum: {mx}", file=out)
        print(f"* Num values: {n_values}", file=out)
        print(f"* Has nulls: {str(has_null).lower()}", file=out)
        print(file=out)
    return 0


def cmd_export(args) -> int:
    columns = args.columns.split(",") if args.columns else None
    tbl = read_orc(args.file, columns=columns)
    if args.num_rows is not None:
        tbl = tbl.slice(0, args.num_rows)
    if args.format == "feather":
        # binary format: requires -o (the reference CLI writes feather
        # to its output file too, `src/bin/orc-export.rs:80`)
        if not args.output_file:
            raise SystemExit("feather output requires -o OUTPUT_FILE")
        import pyarrow.feather as pafeather
        pafeather.write_feather(tbl, args.output_file)
        return 0
    sink = open(args.output_file, "w") if args.output_file else args.out
    try:
        if args.format == "json":
            for row in tbl.to_pylist():
                sink.write(json.dumps(row, default=str) + "\n")
        else:
            import pyarrow.csv as pacsv
            buf = io.BytesIO()
            pacsv.write_csv(tbl, buf)
            sink.write(buf.getvalue().decode())
    finally:
        if args.output_file:
            sink.close()
    return 0


def main(argv=None, out=None) -> int:
    parser = argparse.ArgumentParser(prog="orc_tools")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("export", help="export an ORC file to csv/json")
    p.add_argument("file")
    p.add_argument("-o", "--output-file")
    p.add_argument("-f", "--format", choices=["csv", "json", "feather"],
                   default="csv")
    p.add_argument("-n", "--num-rows", type=int)
    p.add_argument("-c", "--columns")
    p.set_defaults(fn=cmd_export)

    p = sub.add_parser("metadata", help="print ORC tail metadata")
    p.add_argument("file")
    p.add_argument("-s", "--stripes", action="store_true")
    p.set_defaults(fn=cmd_metadata)

    p = sub.add_parser("stats", help="print column statistics")
    p.add_argument("file")
    p.set_defaults(fn=cmd_stats)

    args = parser.parse_args(argv)
    args.out = out or sys.stdout
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
