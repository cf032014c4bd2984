"""Round-2 dedup guarantees: pigeonhole-complete SimHash banding at the
configured radius, exact streaming of degenerate buckets through the
self-join plan (no single-executor array blowup, no duplicate emissions),
and the bucketed embedding near-dup path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goorc_spark.pipeline_ops import dedup


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string")


def test_simhash_bands_cover_radius():
    for d in (0, 3, 8, 15):
        spans = dedup.simhash_bands(d)
        assert len(spans) == d + 1
        assert sum(w for _, w in spans) == 64
        ends = [s + w for s, w in spans]
        assert ends[:-1] == [s for s, _ in spans][1:]  # contiguous


def test_simhash_near_dup_complete_at_radius(spark):
    """Banded pairs == brute-force bit_count(xor) pairs at max_hamming=8
    (the r1 4x16 banding missed distance-4..8 pairs by construction)."""
    words = ["alpha beta gamma delta", "alpha beta gamma dexta",
             "alpha zeta gamma delta", "omega psi chi phi",
             "omega psi chi pho", "totally different text here"]
    docs = _docs(spark, words * 6).cache()  # 36 docs, many near pairs
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dup(docs, max_hamming=8).collect())
    sh = dedup.simhash(docs)
    a, b = sh.alias("a"), sh.alias("b")
    brute = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        F.bit_count(F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64")))
         .alias("hamming")).filter("hamming <= 8")
    want = sorted((r.doc_a, r.doc_b, r.hamming) for r in brute.collect())
    assert got == want and len(got) > 0
    docs.unpersist()


def test_degenerate_bucket_exact(spark):
    """300 identical docs = one degenerate bucket per band: the self-join
    plan must stream C(300,2) exact pairs (hamming 0), each exactly once
    (first-match discipline — no duplicate pairs without any distinct)."""
    docs = _docs(spark, ["same text every time"] * 300)
    got = dedup.simhash_near_dup(docs, max_hamming=3)
    assert got.count() == 300 * 299 // 2
    assert got.filter("hamming != 0").count() == 0
    assert got.select("doc_a", "doc_b").distinct().count() == 300 * 299 // 2


def test_minhash_giant_bucket_exact(spark):
    rows = ["the quick brown fox jumps over the lazy dog"] * 120 + \
           ["a completely different document body"] * 2
    docs = _docs(spark, rows)
    pairs = dedup.minhash_lsh_pairs(docs, k=12, bands=4, shingle=6)
    rows = pairs.collect()
    base = {(r.doc_a, r.doc_b) for r in rows}
    assert len(base) >= 120 * 119 // 2
    # first-match emits each pair exactly once — no duplicates, no distinct
    assert len(rows) == len(base)


def test_embedding_lsh_subset_of_bruteforce(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(80, 16)).astype("float32")
    vecs[40:44] = vecs[0] + rng.normal(scale=0.01, size=(4, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], int(i % 3)) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    lsh = {(r.vec_a, r.vec_b) for r in
           dedup.embedding_near_dup_lsh(df, threshold=0.9).collect()}
    brute = {(r.vec_a, r.vec_b) for r in
             dedup.embedding_near_dup(df, threshold=0.9).collect()}
    assert lsh <= brute            # LSH never invents pairs
    assert len(lsh) > 0            # and finds the planted near-dups


def test_simhash_near_dup_radius_guard():
    with pytest.raises(ValueError):
        dedup.simhash_bands(64)


def test_ivf_topk_candidates_respect_cells(spark):
    import numpy as np

    from goorc_spark.pipeline_ops import similarity

    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(120, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], int(i % 4)) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    assigned = similarity.ivf_assign(df)
    # total assignment: every vector lands in exactly one cell
    assert assigned.count() == 120
    assert assigned.select("vec_id").distinct().count() == 120
    top = similarity.ivf_topk(df, query_vec_id=0, k=5, nprobe=2).collect()
    assert len(top) == 5
    # all results come from the probed cells (<= 2 distinct cells)
    assert len({r["cell"] for r in top}) <= 2


def test_decontaminate_drops_overlaps_only(spark):
    bench = _docs(spark, ["the secret benchmark question about turtles"])
    train = _docs(spark, [
        "completely unrelated text about ships and the open sea today",
        "leaked: the secret benchmark question about turtles appears here",
        "another clean document that shares nothing with the eval sets",
    ])
    kept = {r.doc_id for r in
            dedup.decontaminate(train, bench, n=24).collect()}
    assert kept == {0, 2}  # only the contaminated doc is dropped
    # the benchmark n-gram side is broadcast, never shuffled
    import re
    plan = dedup.decontaminate(train, bench, n=24) \
        ._jdf.queryExecution().executedPlan().toString()
    assert re.search("BroadcastHashJoin|BroadcastExchange", plan)


def test_components_transitive_chain(spark):
    """A~B and B~C without A~C must land in ONE component (label = min id);
    dedup_keep's greedy policy drops both B and C."""
    import pandas as pd
    from goorc_spark.pipeline_ops import dedup

    base = "the quick brown fox jumps over the lazy dog " * 8
    w = ["zebra123", "quartz99", "vortex77", "maple555"]
    a = base + " ".join(w[0:2])
    b = base + " ".join(w[1:3])   # near a and near c (J ~0.70/0.72)
    c = base + " ".join(w[2:4])   # J(a, c) ~0.55 < 0.6
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [a, b, c, "completely different text about ships"],
    }))
    pairs = {(r.doc_a, r.doc_b) for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.6).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    comp = {r.doc_id: r.component for r in
            dedup.dedup_components(docs, n=3, threshold=0.6).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == 4
    keep = {r.doc_id for r in
            dedup.dedup_keep(docs, n=3, threshold=0.6).collect()}
    assert keep == {1, 4}


def test_exact_baseline_guards(spark):
    """VERDICT r2 #4: the quadratic baselines refuse large inputs unless
    forced; the LSH twins stay the path of least resistance."""
    import pytest
    from pyspark.sql import functions as F
    from goorc_spark.pipeline_ops import dedup, similarity

    big = spark.range(dedup.EXACT_BASELINE_MAX + 10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        (F.col("id") % 3).alias("label"))
    with pytest.raises(ValueError, match="embedding_near_dup_lsh"):
        dedup.embedding_near_dup(big)
    with pytest.raises(ValueError, match="pairwise_topk_per_label_lsh"):
        similarity.pairwise_topk_per_label(big)
    # force=True bypasses (plan only — don't execute the cartesian)
    dedup.embedding_near_dup(big, force=True)
    similarity.pairwise_topk_per_label(big, force=True)
    # small inputs pass the guard and still run
    small = big.limit(50)
    assert dedup.embedding_near_dup(small, threshold=0.99).count() >= 0
    assert similarity.pairwise_topk_per_label(small, k=1).count() >= 0


def test_components_pair_source_routing(spark):
    from goorc_spark.pipeline_ops import dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(60)
    exact = dedup.dedup_components(docs, pair_source="exact")
    lsh = dedup.dedup_components(docs, pair_source="lsh")
    auto = dedup.dedup_components(docs)  # small -> exact
    assert exact.count() == lsh.count() == auto.count() == 60
    assert sorted(exact.collect()) == sorted(auto.collect())


def test_components_lsh_verifies_threshold(spark):
    """Code-review r3: lsh-mode components must honor `threshold` — raw
    band collisions get verified with the exact n-gram Jaccard, so a
    high threshold yields no merged components for merely-similar docs."""
    from goorc_spark.pipeline_ops import dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(80)
    # verify step alone: candidates -> exact jaccard filter
    cand = dedup.minhash_lsh_pairs(docs, shingle=3)
    verified = dedup.verify_jaccard_pairs(docs, cand, n=3, threshold=0.8)
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    v = {(r.doc_a, r.doc_b) for r in verified.collect()}
    e = {(r.doc_a, r.doc_b) for r in exact.collect()}
    assert v <= e, "verified pairs must be a subset of exact pairs"
    # threshold=1.0 in lsh mode merges only byte-identical shingle sets
    comp_hi = dedup.dedup_components(docs, threshold=1.0,
                                     pair_source="lsh")
    comp_lo = dedup.dedup_components(docs, threshold=0.2,
                                     pair_source="lsh")
    n_hi = comp_hi.select("component").distinct().count()
    n_lo = comp_lo.select("component").distinct().count()
    assert n_hi >= n_lo, "higher threshold cannot merge more"


def _union_find_labels(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_star_components_long_chain(spark):
    """VERDICT r3 #8 done-criterion: a 1000-link chain (diameter 1000)
    converges under a small round budget with method='star' — where
    min-label propagation with the same budget is still mid-flood, and
    says so instead of returning its labels — and the labels equal a
    union-find oracle. Plus isolated nodes and a dense clique mixed in."""
    n = 1000
    chain = [(i, i + 1) for i in range(n - 1)]
    clique = [(a, b) for a in range(1200, 1210) for b in range(a + 1, 1210)]
    edges = chain + clique  # nodes 1000..1199 stay isolated
    docs = spark.range(1300).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = dedup.connected_components(docs, pairs, method="star",
                                     max_iters=15)
    labels = {r.doc_id: r.component for r in got.collect()}
    oracle = _union_find_labels(1300, edges)
    assert labels == oracle  # chain all -> 0; isolated self; clique -> 1200
    # a smaller budget, propagation has NOT converged on the chain (shows
    # the star fallback is doing real work, not just matching an easy
    # case), and it raises rather than return the mid-flood labels
    with pytest.raises(RuntimeError, match=r"max_iters=5\b.*method=\"star\""):
        dedup.connected_components(docs, pairs, method="propagate",
                                   max_iters=5)
    # star itself raises when its own budget runs out first
    with pytest.raises(RuntimeError, match=r"'star'.*max_iters=2\b"):
        dedup.connected_components(docs, pairs, method="star", max_iters=2)


def test_star_equals_propagate_on_real_docs(spark):
    """Both component methods produce identical labels on a realistic
    near-dup pair graph (the gate query's shape)."""
    rows = []
    for i in range(0, 120, 3):
        base = f"document body number {i} with shared tokens alpha beta"
        rows += [base, base + " gamma", base + " gamma delta"]
    docs = _docs(spark, rows)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.6) \
        .select("doc_a", "doc_b")
    a = dedup.connected_components(docs, pairs, method="propagate")
    b = dedup.connected_components(docs, pairs, method="star")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_embedding_ops_one_fold_at_any_estimate(spark):
    """The embedding operators plan the same JVM fold however large the
    input's Catalyst estimate: with the file compression factor raised so
    the sf0.001 embeddings estimate passes 64 MB, no Python UDF node is
    planned and the rows equal those at the default factor."""
    from goorc_spark.pipeline_ops import similarity

    path = "/root/testdata/sf0.001/embeddings.parquet"
    conf = "spark.sql.sources.fileCompressionFactor"

    def run_all():
        embs = spark.read.parquet(path)
        frames = {
            "cos": similarity.cosine_topk(embs),
            "lsh": similarity.lsh_ann_topk(embs),
            "nd": dedup.embedding_near_dup_lsh(embs, threshold=0.35),
        }
        plans = {name: df._jdf.queryExecution().executedPlan().toString()
                 for name, df in frames.items()}
        rows = {name: df.collect() for name, df in frames.items()}
        rows["nd"] = sorted(map(tuple, rows["nd"]))
        est = int(embs._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
        return est, plans, rows

    _, _, base = run_all()
    assert all(base.values())
    old = spark.conf.get(conf)
    spark.conf.set(conf, "500")
    try:
        est, plans, big = run_all()
    finally:
        spark.conf.set(conf, old)
    assert est > 64 << 20
    for name, plan in plans.items():
        assert "EvalPython" not in plan, (name, plan)
    assert big == base


def test_ivf_trained_centroids(spark):
    """VERDICT r4 #9: Lloyd-trained IVF — deterministic across reruns,
    centroids actually move from their seeds, every vector still lands in
    a cell, and the trained top-k matches the engine-exact construction
    the DuckDB oracle twin unrolls (gated in check_entry as
    ann_ivf_trained)."""
    from goorc_spark.pipeline_ops import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = {r["cid"]: r["cvec"]
          for r in similarity.ivf_train_centroids(embs).collect()}
    c2 = {r["cid"]: r["cvec"]
          for r in similarity.ivf_train_centroids(embs).collect()}
    assert c1 == c2  # deterministic
    seeds = {r["vec_id"]: [float(v) for v in r["embedding"]]
             for r in embs.filter("vec_id between 1 and 8").collect()}
    moved = sum(1 for cid in c1 if c1[cid] != seeds[cid])
    assert moved >= 6  # Lloyd actually refines (allow a stable seed or 2)
    assign = similarity._assign_cells(
        embs, similarity.ivf_train_centroids(embs))
    assert assign.count() == embs.count()
    t1 = similarity.ivf_topk_trained(embs).collect()
    t2 = similarity.ivf_topk_trained(embs).collect()
    assert t1 == t2 and len(t1) == 10
