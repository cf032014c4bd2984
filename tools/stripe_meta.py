#!/usr/bin/env python
"""Inspect an encoded stripe table — the analog of `orc-tools meta` and the
reference's metadata reader (/root/reference/examples/reader.go): per-stripe
lineage, per-column codec choices + stream directory, row-group layout.

Usage:
    python tools/stripe_meta.py <stripes path-or-table>            # summary
    python tools/stripe_meta.py <stripes> --stripe <stripe_id>     # one stripe
    python tools/stripe_meta.py <stripes> --columns                # codec mix

Reads lineage/meta columns only — blob bytes are never materialized
(column pruning at the parquet scan), so this is cheap even on a
10^12-turn stripe table.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if n < 1024 or unit == "TB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024.0
    return f"{n}"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("stripes", help="stripe table: parquet dir or catalog table")
    p.add_argument("--stripe", help="dump one stripe's full meta (streams, "
                                    "row groups)")
    p.add_argument("--columns", action="store_true",
                   help="aggregate codec choices per column across stripes")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from goorc_spark import engine

    spark = (SparkSession.builder.master("local[4]")
             .appName("goorc_stripe_meta")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    stripes = engine.read_encoded(spark, args.stripes)

    if args.stripe:
        row = stripes.filter(F.col("stripe_id") == args.stripe) \
            .select("stripe_id", "n_rows", "raw_bytes", "enc_bytes", "meta") \
            .collect()
        if not row:
            print(f"stripe {args.stripe} not found", file=sys.stderr)
            return 1
        r = row[0]
        meta = json.loads(r["meta"])
        print(f"stripe {r['stripe_id']}: {r['n_rows']} rows, "
              f"raw {fmt_bytes(r['raw_bytes'])} -> enc {fmt_bytes(r['enc_bytes'])} "
              f"({r['raw_bytes'] / max(r['enc_bytes'], 1):.2f}x), "
              f"compression={meta.get('compression')}, "
              f"crc32={meta.get('crc32')}")
        # a row-grouped stripe keeps its column metas per group; group 0
        # holds the sub-encoding histograms
        for c in meta.get("columns") or meta["row_groups"][0]["columns"]:
            subs = ",".join(f"{k}:{v}" for k, v in
                            (c.get("sub_encodings") or {}).items())
            print(f"  column {c['name']} ({c['kind']}): codec={c.get('codec', '-')}"
                  + (f" [{subs}]" if subs else "")
                  + f" nulls={c.get('null_count', 0)}")
            for s in c.get("streams", []):
                print(f"    {s['kind']:<12} off={s['offset']:<10} "
                      f"len={s['length']:<9} raw={s.get('raw_length', '-')}")
        rgs = meta.get("row_groups") or []
        if rgs:
            print(f"  row groups: {len(rgs)} "
                  f"(stride covers seek without decoding the stripe)")
            for i, g in enumerate(rgs[:8]):
                print(f"    rg{i}: rows={g.get('n_rows')} off={g.get('offset')} "
                      f"len={g.get('length')} ranges={list((g.get('ranges') or {}))}")
            if len(rgs) > 8:
                print(f"    ... {len(rgs) - 8} more")
        return 0

    if args.columns:
        def codec_rows(batches):
            import pyarrow as pa
            for rb in batches:
                names, kinds, codecs = [], [], []
                for meta_json in rb.column("meta").to_pylist():
                    meta = json.loads(meta_json)
                    for c in (meta.get("columns")
                              or meta["row_groups"][0]["columns"]):
                        names.append(c["name"])
                        kinds.append(c["kind"])
                        codecs.append(c.get("codec") or
                                      ",".join((c.get("sub_encodings") or
                                                {"raw": 1}).keys()))
                yield pa.RecordBatch.from_pydict(
                    {"column": pa.array(names), "kind": pa.array(kinds),
                     "codec": pa.array(codecs)})

        mix = (stripes.select("meta")
               .mapInArrow(codec_rows, "column string, kind string, codec string")
               .groupBy("column", "kind", "codec").count()
               .orderBy("column", F.desc("count")))
        for r in mix.collect():
            print(f"{r['column']:<16} {r['kind']:<10} {r['codec']:<14} "
                  f"x{r['count']}")
        return 0

    lv = engine.lineage_view(stripes)
    agg = lv.agg(
        F.count("*").alias("stripes"), F.sum("n_rows").alias("rows"),
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc"),
        F.countDistinct("run_id").alias("runs"),
        F.countDistinct("part_id").alias("parts")).collect()[0]
    print(f"{agg['stripes']} stripes / {agg['parts']} partitions / "
          f"{agg['runs']} run(s): {agg['rows']} rows, "
          f"raw {fmt_bytes(agg['raw'])} -> enc {fmt_bytes(agg['enc'])} "
          f"({agg['raw'] / max(agg['enc'], 1):.2f}x)")
    for r in lv.orderBy("part_id", "seq").limit(50).collect():
        print(f"  {r['stripe_id']}: rows={r['n_rows']:<8} "
              f"enc={fmt_bytes(r['enc_bytes']):<10} "
              f"key=[{r['key_min']} .. {r['key_max']}] "
              f"{r['encode_ms']:.0f} ms")
    if agg["stripes"] > 50:
        print(f"  ... {agg['stripes'] - 50} more")
    return 0


if __name__ == "__main__":
    sys.exit(main())
