#!/usr/bin/env python
"""Round-6 isolation benchmarks (guide §1.4) — NOT the graded bench.

`bench.py` is frozen for measurement; this file holds the per-leg
experiments the optimization round used: each pipeline leg timed
median-of-3 with warm python workers in a session configured like
bench.py, and the encode kernel timed standalone at the bench's stripe
shape. Prints one JSON object.

Usage: python bench_extra.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import statistics
import sys
import time


def median3(fn):
    fn()  # untimed plan warm-up (same policy as bench.py)
    ts = []
    for _ in range(3):
        t0 = time.monotonic()
        fn()
        ts.append(round(time.monotonic() - t0, 3))
    return statistics.median(ts), ts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import os

    from pyspark.sql import SparkSession, functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("goorc_bench_extra")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from goorc_spark.pipeline_ops import dedup, sampling, similarity, text

    def warm(batches):
        import goorc_spark.arrow_stripe  # noqa: F401
        yield from batches

    spark.range(cpus * 2, numPartitions=cpus * 2).mapInArrow(
        warm, "id long").count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    docs.count()
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    embs.count()

    out: dict = {"sf_dir": sf_dir}
    legs = {
        "dedup_exact": lambda: dedup.exact_dedup(docs).count(),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(docs).count(),
        "dedup_simhash_near": lambda: dedup.simhash_near_dup(
            docs, max_hamming=8).count(),
        "dedup_decontaminate": lambda: dedup.decontaminate(
            docs, docs.filter("doc_id % 17 = 0"), n=32).count(),
        "dedup_embedding_lsh": lambda: dedup.embedding_near_dup_lsh(
            embs, threshold=0.35).count(),
        "sample_split": lambda: sampling.hash_split(docs).count(),
        "sample_pack": lambda: sampling.pack_sequences(docs).count(),
        "text_token_stats": lambda: text.token_stats(docs).count(),
        "ann_cosine_topk": lambda: similarity.cosine_topk(embs).count(),
        "ann_lsh_topk": lambda: similarity.lsh_ann_topk(embs).count(),
        "ann_ivf_trained": lambda: similarity.ivf_topk_trained(embs).count(),
        "ann_pairwise_topk_lsh": lambda:
            similarity.pairwise_topk_per_label_lsh(embs).count(),
    }
    med = {}
    for name, fn in legs.items():
        m, attempts = median3(fn)
        med[name] = {"median_sec": m, "attempts": attempts}
    out["legs_median3"] = med

    # encode kernel standalone at the bench stripe shape
    import pyarrow as pa

    from goorc_spark import arrow_stripe, transcripts

    pdf = transcripts.synthesize_pandas(n_convs=3000, seed=11)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    for policy in ("balanced", "fast"):
        cache: dict = {}
        args = dict(cache=cache, rg_rows=10_000, key_col="conv_id",
                    ord_col="turn_idx", policy=policy)
        arrow_stripe.encode_stripe_table(
            table, transcripts.TRANSCRIPTS_SPEC, **args)
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            arrow_stripe.encode_stripe_table(
                table, transcripts.TRANSCRIPTS_SPEC, **args)
            best = min(best, time.monotonic() - t0)
        out[f"encode_kernel_{policy}"] = {
            "rows": table.num_rows, "sec": round(best, 3),
            "rows_per_sec": round(table.num_rows / best)}

    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
