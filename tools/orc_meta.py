#!/usr/bin/env python
"""Dump a real `.orc` file's structure with the NATIVE parser — the
`orc-tools meta` analog over goorc_spark.orc_native (no JVM, no pyarrow
ORC): postscript, type tree, stripe directory, per-stripe stream layout
and encodings, and the file's stripe statistics.

Usage:
    python tools/orc_meta.py <file.orc>              # summary
    python tools/orc_meta.py <file.orc> --streams    # per-stripe streams
    python tools/orc_meta.py <file.orc> --stats      # file + stripe statistics
    python tools/orc_meta.py <file.orc> --index      # ROW_INDEX summary
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from goorc_spark import orc_native as on  # noqa: E402

COMP_NAMES = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4",
              5: "ZSTD"}
KIND_NAMES = {v: k[2:] for k, v in vars(on).items() if k.startswith("T_")}
STREAM_NAMES = {on.PRESENT: "PRESENT", on.DATA: "DATA", on.LENGTH: "LENGTH",
                on.DICTIONARY_DATA: "DICT_DATA", on.SECONDARY: "SECONDARY",
                on.ROW_INDEX: "ROW_INDEX", on.BLOOM_FILTER: "BLOOM",
                on.BLOOM_FILTER_UTF8: "BLOOM_UTF8"}
ENC_NAMES = {0: "DIRECT", 1: "DICTIONARY", 2: "DIRECT_V2", 3: "DICTIONARY_V2"}


def type_str(types, cid: int) -> str:
    t = types[cid]
    k = KIND_NAMES.get(t["kind"], str(t["kind"]))
    if t["kind"] == on.T_STRUCT:
        inner = ", ".join(f"{n}:{type_str(types, c)}"
                          for n, c in zip(t["field_names"], t["subtypes"]))
        return f"struct<{inner}>"
    if t["kind"] == on.T_LIST:
        return f"list<{type_str(types, t['subtypes'][0])}>"
    if t["kind"] == on.T_MAP:
        return (f"map<{type_str(types, t['subtypes'][0])},"
                f"{type_str(types, t['subtypes'][1])}>")
    if t["kind"] == on.T_DECIMAL:
        return f"decimal({t['precision']},{t['scale']})"
    return k.lower()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("path")
    ap.add_argument("--streams", action="store_true")
    ap.add_argument("--stats", action="store_true")
    ap.add_argument("--index", action="store_true",
                    help="ROW_INDEX summary per stripe (entry counts + "
                         "first positions)")
    args = ap.parse_args()

    data = open(args.path, "rb").read()
    ps, footer = on.parse_tail(data)
    types = footer["types"]
    print(f"file: {args.path}  ({len(data)} bytes)")
    print(f"compression: {COMP_NAMES.get(ps['compression'])} "
          f"(block {ps['block_size']})")
    print(f"rows: {footer['n_rows']}  stripes: {len(footer['stripes'])}  "
          f"row-index stride: {footer['row_index_stride']}")
    print(f"schema: {type_str(types, 0)}")
    for i, s in enumerate(footer["stripes"]):
        print(f"  stripe {i}: offset={s['offset']} rows={s['n_rows']} "
              f"index={s['index_length']} data={s['data_length']} "
              f"footer={s['footer_length']}")
        if args.streams:
            sf = on._stripe_footer(data, s, ps["compression"])
            for st in sf["streams"]:
                print(f"    col {st['column']:>3} "
                      f"{STREAM_NAMES.get(st['kind'], st['kind']):<10} "
                      f"{st['length']} bytes")
            for cid, e in enumerate(sf["encodings"]):
                tail = (f" dict={e['dict_size']}" if e["dict_size"] else "")
                print(f"    col {cid:>3} encoding "
                      f"{ENC_NAMES.get(e['kind'], e['kind'])}{tail}")
    if args.stats:
        root = types[0]
        if footer.get("col_stats"):
            print("  file stats (footer ColumnStatistics):")
            for name, cid in zip(root["field_names"], root["subtypes"]):
                cs = footer["col_stats"]
                st = cs[cid] if cid < len(cs) else {}
                rng = (f" min={st.get('min')!r} max={st.get('max')!r}"
                       if "min" in st else "")
                print(f"    {name}: n={st.get('n')} "
                      f"nulls={st.get('has_null')}{rng}")
        stats = on.parse_stripe_stats(data)
        if stats is None:
            print("no stripe statistics section")
        else:
            for i, cols in enumerate(stats):
                print(f"  stripe {i} stats:")
                for name, cid in zip(root["field_names"], root["subtypes"]):
                    st = cols[cid] if cid < len(cols) else {}
                    rng = (f" min={st.get('min')!r} max={st.get('max')!r}"
                           if "min" in st else "")
                    print(f"    {name}: n={st.get('n')} "
                          f"nulls={st.get('has_null')}{rng}")
    if args.index:
        for i, s in enumerate(footer["stripes"]):
            if not s["index_length"]:
                print(f"  stripe {i}: no ROW_INDEX streams")
                continue
            # the reader's own memoized parses, so the dump cannot drift
            # from what the seek and pruning paths see
            sf = on._stripe_footer(data, s, ps["compression"])
            cur = on._StripeCursor(data, s, sf, ps["compression"])
            print(f"  stripe {i} row index "
                  f"(stride {footer['row_index_stride']}):")
            for cid in range(len(types)):
                if not cur.has(cid, on.ROW_INDEX):
                    continue
                entries = cur.row_index(cid)
                pv = [list(entries.positions(g))
                      for g in range(min(3, len(entries)))]
                print(f"    col {cid:>3}: {len(entries)} entries, "
                      f"positions[0:3]={pv}")
            for cid in range(len(types)):
                if not cur.has(cid, on.BLOOM_FILTER_UTF8):
                    continue
                blooms = cur.blooms(cid)
                if blooms:
                    import numpy as _np
                    k0, w0 = blooms[0]
                    dens = (_np.unpackbits(
                        w0.view(_np.uint8)).mean() if len(w0) else 0.0)
                    print(f"    col {cid:>3}: {len(blooms)} bloom filters"
                          f" (k={k0}, m={len(w0) * 64} bits, "
                          f"density[0]={dens:.2f})")


if __name__ == "__main__":
    main()
