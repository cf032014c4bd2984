"""Similarity search over the embeddings table (vec_id, embedding
array<float>, label).

- `cosine_topk`: brute-force exact top-k — the correctness baseline. The
  dot product stays JVM-side (zip_with + aggregate fold, whole-stage
  codegen); double accumulation left-to-right makes it bit-reproducible in
  any engine that folds sequentially.
- `lsh_ann_topk`: the scale path — sign-of-dot-product hyperplane buckets
  (planes = deterministic anchor vectors taken from the data itself, so the
  plan is pure SQL, broadcastable, and oracle-reproducible); candidates
  searched within the query's bucket only.

Every dot product here is the same fold at every input size: `_dot` as a
Column, `_sql_dot` as SQL text and `_py_dot` on the driver all multiply in
double and add left to right from 0.0, as the DuckDB oracle's list_reduce
does, so results equal the oracle's bit for bit.

At 100 TB: anchors/queries are broadcast (no shuffle of the big side);
bucketing is a narrow map; only the per-bucket top-k aggregates shuffle —
k rows per bucket, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm(x):
    return F.sqrt(_dot(x, x))


# --- literal-vector plan building -----------------------------------------
#
# Anchors, centroids and the query vector are all DRIVER-BOUNDED metadata
# (a handful of rows — the same boundedness claim engine._with_salt makes
# for the skew-key list). Collecting them once and inlining them as ARRAY
# LITERALS turns every bucket/cell assignment into a NARROW map: the old
# plans cross-joined the broadcast vectors (x|anchors| row expansion), ran
# a window/row_number or groupBy over the expanded rows (a full shuffle +
# sort), then joined the result BACK to the embeddings table (another
# shuffle). Per operator that removes 2-4 exchanges and the x8 row
# expansion; measured 3-6x on the sf0.1 bench legs, and the saving grows
# with corpus size (the removed shuffles were O(corpus), the collect is
# O(centroids)). Every float stays bit-identical: a collected float32
# widens to the same double the old plan's cast produced, the fold order
# inside _dot is unchanged, and Python-side folds replicate the SQL fold's
# left-to-right double accumulation exactly.
#
# The literal-vector expressions are built as SQL text: building a
# 64-element literal array through the Column DSL costs ~500 py4j round
# trips (~0.9 s per assignment expression measured); one F.expr() call
# parses the same tree JVM-side in milliseconds. repr(float) is
# shortest-roundtrip, and cast(string as double) parses with Java's
# correctly-rounded Double.parseDouble, so every literal is the identical
# double.


def _dlit(v) -> str:
    return f"cast('{repr(float(v))}' as double)"


def _sql_vec(vec) -> str:
    return "array(" + ",".join(_dlit(v) for v in vec) + ")"


def _sql_dot(a: str, b: str) -> str:
    """SQL text of _dot's fold: zip_with cast-multiply, left fold from 0.0
    — the same expression tree the Column DSL builds."""
    return (f"aggregate(zip_with({a}, {b}, (a, b) -> cast(a as double) * "
            f"cast(b as double)), cast(0.0 as double), (acc, v) -> acc + v)")


def _py_dot(a, b) -> float:
    """Left-to-right double fold — bit-identical to the SQL/DuckDB
    aggregate(zip_with(...)) dot on the same values."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _round6(x: float) -> float:
    """Spark's round(double, 6): decimal HALF_UP on the shortest decimal
    representation (BigDecimal.valueOf), back to the nearest double —
    replicated with Python's repr (also shortest-roundtrip) + decimal."""
    import decimal
    import math

    if math.isnan(x) or math.isinf(x):
        return x
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


def _query_cos(qe: list) -> "F.Column":
    """round(dot(e, q) / (norm(e) * norm(q)), 6) against a literal query
    vector, as one expr() parse instead of ~130 py4j literal calls;
    norm(q) folds to the same double driver-side (_py_dot identity), so
    sqrt sees the same value."""
    qq = _py_dot(qe, qe)
    return F.expr(
        f"round({_sql_dot('embedding', _sql_vec(qe))} / "
        f"(sqrt({_sql_dot('embedding', 'embedding')}) * "
        f"sqrt({_dlit(qq)})), 6)")


def _vid_type(embeddings: DataFrame):
    return embeddings.schema["vec_id"].dataType


def _centroid_rows(embeddings: DataFrame, centroid_ids,
                   cast_double: bool = False) -> list:
    """[(cid, [vector floats])] for the centroid seed ids, sorted by cid."""
    col = F.col("embedding")
    if cast_double:
        col = F.transform(col, lambda v: v.cast("double"))
    rows = embeddings.filter(F.col("vec_id").isin(list(centroid_ids))) \
        .select(F.col("vec_id").alias("cid"), col.alias("cvec")).collect()
    return sorted((r["cid"], list(r["cvec"])) for r in rows)


def _query_vec(embeddings: DataFrame, query_vec_id) -> list | None:
    rows = embeddings.filter(F.col("vec_id") == query_vec_id) \
        .select("embedding").limit(1).collect()
    return list(rows[0]["embedding"]) if rows else None


def _with_cell(df: DataFrame, cent_rows: list, vid_t,
               out: str = "cell") -> DataFrame:
    """Append the nearest-centroid cell as a NARROW column: per centroid,
    d2 = round(dot(e,e) - 2*dot(e,c) + dot(c,c), 6) with dot(c,c) folded
    driver-side (same left-to-right fold, bit-identical); the winner is
    array_min over (d2, cid) structs — the same (d2, cid) lexicographic
    tie-break the old window row_number used. dot(e,e) is computed once in
    a temp column so the interpreted fold doesn't run once per centroid."""
    from goorc_spark.pipeline_ops.dedup import _spread

    df = _spread(df)
    # centroids travel as ONE foldable literal array of structs rather than
    # per-cell inlined folds: constant folding turns it into a codegen
    # reference object, so the generated source is IDENTICAL across Lloyd
    # iterations (only the referenced values change) and the per-iteration
    # janino recompile disappears — measured 0.51 -> 0.32 s per assignment
    # pass, cells bit-identical (same per-cell left-to-right fold, same
    # round/tie-break).
    cells_sql = "array(" + ",".join(
        f"named_struct('cid', cast({int(cid)} as "
        f"{vid_t.simpleString()}), 'c', {_sql_vec(cvec)}, "
        f"'cc', {_dlit(_py_dot(cvec, cvec))})"
        for cid, cvec in cent_rows) + ")"
    winner = (f"array_min(transform({cells_sql}, s -> named_struct("
              f"'d2', round(__dee - 2 * {_sql_dot('embedding', 's.c')} "
              f"+ s.cc, 6), 'cid', s.cid))).cid")
    return df.withColumn(
        "__dee", F.expr(_sql_dot("embedding", "embedding"))) \
        .withColumn(out, F.expr(winner)) \
        .drop("__dee")


def _probe_cells(qe: list, cent_rows: list, nprobe: int) -> list:
    """The query's `nprobe` nearest cells, computed driver-side with the
    same d2 algebra/rounding/tie-break as the in-plan assignment."""
    qq = _py_dot(qe, qe)
    scored = sorted((_round6(qq - 2 * _py_dot(qe, cvec)
                             + _py_dot(cvec, cvec)), cid)
                    for cid, cvec in cent_rows)
    return [cid for _, cid in scored[:nprobe]]


def cosine_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact top-k by cosine to the embedding of `query_vec_id`
    (tie-broken by vec_id for determinism). The query vector is collected
    once (bounded: one row) and inlined as a literal, so the whole query
    is one narrow scan + TakeOrdered — no broadcast build job."""
    qe = _query_vec(embeddings, query_vec_id)
    e = embeddings.filter(F.col("vec_id") != query_vec_id)
    if qe is None:  # no query row: same empty result as the old crossJoin
        return e.select("vec_id",
                        F.lit(None).cast("double").alias("cosine")) \
            .filter(F.lit(False))
    from goorc_spark.pipeline_ops.dedup import _spread

    scored = _spread(e).select(
        "vec_id", _query_cos(qe).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def hyperplane_buckets(embeddings: DataFrame, anchor_ids=(1, 2, 3, 4)) -> DataFrame:
    """LSH bucket id per vector: sign bits of dot products against anchor
    vectors drawn deterministically from the data (vec_id in anchor_ids).
    The anchors are collected once (bounded: len(anchor_ids) rows) and
    inlined as literals, so the bucket is ONE narrow projected column —
    the old plan's anchor crossJoin (x|anchors| rows), groupBy-sum shuffle
    and join back to the table are gone. The per-anchor terms sum powers
    of two (exact in double for any order), so the value is identical to
    the old aggregate."""
    anchors = _centroid_rows(embeddings, anchor_ids)  # [(aid, avec)]
    if not anchors:  # old inner join against an empty bits frame: no rows
        return embeddings.withColumn(
            "bucket", F.lit(None).cast("int")).filter(F.lit(False))
    from goorc_spark.pipeline_ops.dedup import _spread

    terms = " + ".join(
        f"(case when {_sql_dot('embedding', _sql_vec(avec))} >= 0 "
        f"then {_dlit(2.0 ** (int(aid) - 1))} "
        f"else cast(0.0 as double) end)"
        for aid, avec in anchors)
    return _spread(embeddings).withColumn(
        "bucket", F.expr(f"cast(({terms}) as int)"))


def lsh_ann_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10,
                 anchor_ids=(1, 2, 3, 4)) -> DataFrame:
    """Approximate top-k: only candidates sharing the query's hyperplane
    bucket are scored. Recall < 1 by design; the exactness claim is only
    'same result as the SQL oracle computing the same algorithm'. The
    query's bucket is derived driver-side from the collected anchors +
    query vector (same sign tests on the same doubles), so the plan is
    bucket-filter -> score -> TakeOrdered with no join at all."""
    anchors = _centroid_rows(embeddings, anchor_ids)
    qe = _query_vec(embeddings, query_vec_id)
    b = hyperplane_buckets(embeddings, anchor_ids)
    if not anchors or qe is None:  # old join against empty qb: no rows
        return b.select("vec_id", "bucket",
                        F.lit(None).cast("double").alias("cosine")) \
            .filter(F.lit(False))
    qbucket = int(sum(float(2.0 ** (int(aid) - 1))
                      for aid, avec in anchors
                      if _py_dot(qe, avec) >= 0))
    cand = b.filter((F.col("bucket") == qbucket)
                    & (F.col("vec_id") != query_vec_id))
    scored = cand.select(
        "vec_id", "bucket", _query_cos(qe).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def ivf_assign(embeddings: DataFrame, centroid_ids=(1, 2, 3, 4, 5, 6, 7, 8)) -> DataFrame:
    """IVF coarse quantizer: every vector is assigned to its nearest
    centroid (centroids = deterministic vectors drawn from the data itself
    — no iterative k-means fit, the standard 'IVF-flat with sampled
    centroids' baseline). The centroids are collected once (bounded) and
    inlined as literals: the assignment is ONE narrow column (_with_cell's
    array_min over (d2, cid) structs — the same round(d2,6)-then-cid
    tie-break the old window row_number computed), replacing the old
    crossJoin x8 expansion + window shuffle + join back."""
    rows = _centroid_rows(embeddings, centroid_ids)
    vid_t = _vid_type(embeddings)
    if not rows:  # old inner join against an empty assignment: no rows
        return embeddings.withColumn(
            "cell", F.lit(None).cast(vid_t)).filter(F.lit(False))
    return _with_cell(embeddings, rows, vid_t)


def ivf_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10,
             centroid_ids=(1, 2, 3, 4, 5, 6, 7, 8), nprobe: int = 2) -> DataFrame:
    """IVF-flat ANN: score only vectors whose cell is among the query's
    `nprobe` nearest centroids. At 10^12 scale the cell assignment is the
    write-time clustering; a query touches nprobe/n_cells of the corpus.
    Recall < 1 by design; exactness claim = same algorithm as the SQL
    oracle. Probe cells come from the collected centroids + query vector
    (driver-side, same d2 algebra/rounding), so the whole query is one
    narrow assign+filter pass + TakeOrdered — no window, no joins."""
    rows = _centroid_rows(embeddings, centroid_ids)
    qe = _query_vec(embeddings, query_vec_id)
    vid_t = _vid_type(embeddings)
    if not rows or qe is None:  # old empty-probe/-assign joins: no rows
        return embeddings.select(
            "vec_id", F.col("vec_id").cast(vid_t).alias("cell"),
            F.lit(None).cast("double").alias("cosine")).filter(F.lit(False))
    cells = _probe_cells(qe, rows, nprobe)
    cand = _with_cell(embeddings, rows, vid_t) \
        .filter(F.col("cell").isin(cells)
                & (F.col("vec_id") != query_vec_id))
    scored = cand.select(
        "vec_id", "cell", _query_cos(qe).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _assign_cells(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest centroid by rounded squared distance,
    tie-broken by centroid id — the shared quantizer step of ivf_assign
    and the Lloyd trainer. `cents` is centroid-count-sized (it was the
    broadcast side of the old crossJoin); collecting it keeps the same
    boundedness claim and turns the assignment into one narrow column
    instead of crossJoin + window + row_number."""
    rows = sorted((r["cid"], list(r["cvec"])) for r in cents.collect())
    vid_t = _vid_type(embeddings)
    if not rows:
        return embeddings.select(
            "vec_id", F.col("vec_id").cast(vid_t).alias("cell")) \
            .filter(F.lit(False))
    return _with_cell(embeddings, rows, vid_t).select("vec_id", "cell")


def ivf_train_centroids(embeddings: DataFrame,
                        centroid_ids=(1, 2, 3, 4, 5, 6, 7, 8),
                        iters: int = 2) -> DataFrame:
    """Deterministic Lloyd refinement of the sampled IVF centroids
    (VERDICT r4 #9): seeded at `centroid_ids`' own vectors, `iters`
    assign-update rounds. Engine-exact by construction, so a DuckDB twin
    computing the same seeded iterations matches bit-for-bit:

    - components quantize to round(x, 6) then sum as DECIMAL(20,6) —
      EXACT, order-independent addition, so Spark's partial aggregation
      order can't perturb the mean the way double summation would;
    - the new component is round(decimal_sum/count, 6); empty cells keep
      their previous centroid;
    - assignment orders by (round(d2, 6), cid).

    At scale: one narrow assign + posexplode + partial-aggregation pass
    per iteration — no shuffle of the corpus beyond the (cell, pos)
    rollup, no quadratic term; the centroid set stays driver-bounded (it
    was the broadcast side before, it is the collected literal set
    now)."""
    rows = _train_centroid_rows(embeddings, centroid_ids, iters)
    spark = embeddings.sparkSession
    vid_sql = _vid_type(embeddings).simpleString()
    return spark.createDataFrame(
        [(cid, list(cvec)) for cid, cvec in rows],
        f"cid {vid_sql}, cvec array<double>")


def _train_centroid_rows(embeddings: DataFrame, centroid_ids,
                         iters: int) -> list:
    """Lloyd iterations over collected centroid rows: per round, ONE job —
    narrow cell assignment + posexplode + (cell, pos) decimal-sum
    aggregation — whose <= cells x dims row result updates the centroid
    list driver-side. Replaces the fully-lazy chain (per round: crossJoin
    x|cells|, window shuffle, join back by vec_id, two aggregations)
    whose DAG was re-planned into every downstream branch. Arithmetic
    unchanged: round(val, 6) -> DECIMAL(20,6) sums (order-independent),
    new component = round(sum/count, 6) computed IN-PLAN (so Spark's own
    HALF_UP rounding produces the value), empty cells keep their previous
    centroid."""
    rows = _centroid_rows(embeddings, centroid_ids, cast_double=True)
    vid_t = _vid_type(embeddings)
    for _ in range(iters):
        if not rows:
            break
        ex = _with_cell(embeddings, rows, vid_t).select(
            "cell", F.posexplode(F.col("embedding")).alias("pos", "val"))
        comp = ex.groupBy("cell", "pos").agg(
            F.sum(F.round(F.col("val").cast("double"), 6)
                  .cast("decimal(20,6)")).alias("sd"),
            F.count(F.lit(1)).alias("cnt"))
        newc = comp.select(
            "cell", "pos",
            F.round(F.col("sd").cast("double") / F.col("cnt"), 6)
             .alias("v")).collect()
        by_cell: dict = {}
        for r in newc:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["v"]
        rows = [(cid,
                 [v for _, v in sorted(by_cell[cid].items())]
                 if cid in by_cell else cvec)
                for cid, cvec in rows]
    return rows


def ivf_topk_trained(embeddings: DataFrame, query_vec_id: int = 0,
                     k: int = 10, centroid_ids=(1, 2, 3, 4, 5, 6, 7, 8),
                     nprobe: int = 2, iters: int = 2) -> DataFrame:
    """IVF-flat ANN over Lloyd-trained centroids — the production-grade
    variant of ivf_topk (same probe/candidate algebra, better-balanced
    cells). Deterministic end-to-end; the DuckDB oracle twin unrolls the
    same two training iterations in SQL. Training materializes the
    trained centroid rows driver-side (bounded: centroid-count rows);
    probe cells are derived from them with the same d2 algebra/rounding,
    and the final pass is ONE narrow assign+filter+score + TakeOrdered —
    no window, no joins, no broadcast builds."""
    rows = _train_centroid_rows(embeddings, centroid_ids, iters)
    qe = _query_vec(embeddings, query_vec_id)
    vid_t = _vid_type(embeddings)
    if not rows or qe is None:  # old empty-probe/-assign joins: no rows
        return embeddings.select(
            "vec_id", F.col("vec_id").cast(vid_t).alias("cell"),
            F.lit(None).cast("double").alias("cosine")).filter(F.lit(False))
    cells = _probe_cells(qe, rows, nprobe)
    cand = _with_cell(embeddings, rows, vid_t) \
        .filter(F.col("cell").isin(cells)
                & (F.col("vec_id") != query_vec_id))
    scored = cand.select(
        "vec_id", "cell", _query_cos(qe).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def pairwise_topk_per_label_lsh(embeddings: DataFrame, k: int = 3,
                                anchor_ids=(1, 2, 3, 4)) -> DataFrame:
    """Skew-safe per-label top-k pairs: candidates come from (label,
    LSH-bucket) equi-joins instead of a per-label self-join, so one hot
    label fans out across its buckets rather than collapsing into a single
    quadratic task. Approximate (cross-bucket pairs are invisible), same
    SQL-expressible algebra as ann_lsh_topk; `pairwise_topk_per_label` is
    the exact baseline."""
    b = hyperplane_buckets(embeddings, anchor_ids).select(
        "vec_id", "label", "bucket", "embedding",
        _norm(F.col("embedding")).alias("nrm"))
    # (label, bucket) cardinality bounds a shuffled join's parallelism;
    # a broadcast join keeps the probe side's round-robin width
    from goorc_spark.pipeline_ops.dedup import _pair_sides
    a, c = _pair_sides(b)
    pairs = a.join(c, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id"))).select(
        F.col("a.label").alias("label"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(_dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("cosine"), "vec_a", "vec_b")
    return pairs.withColumn("rk", F.row_number().over(w)) \
                .filter(F.col("rk") <= k).drop("rk")


def pairwise_topk_per_label(embeddings: DataFrame, k: int = 3,
                            force: bool = False) -> DataFrame:
    """For each label, the k most-similar same-label pairs — a bounded
    self-join (per-label) + window top-k; the pattern for near-dup mining
    inside pre-bucketed groups. One hot label still becomes one quadratic
    task — use pairwise_topk_per_label_lsh for skewed label distributions.
    Guarded above EXACT_BASELINE_MAX rows unless `force=True`."""
    from goorc_spark.pipeline_ops.dedup import _guard_exact_baseline
    _guard_exact_baseline(embeddings, "pairwise_topk_per_label",
                          "pairwise_topk_per_label_lsh", force)
    a = embeddings.alias("a")
    b = embeddings.alias("b")
    pairs = a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id"))).select(
        F.col("a.label").alias("label"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(_dot(F.col("a.embedding"), F.col("b.embedding"))
                / (_norm(F.col("a.embedding")) * _norm(F.col("b.embedding"))),
                6).alias("cosine"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("cosine"), "vec_a", "vec_b")
    return pairs.withColumn("rk", F.row_number().over(w)) \
                .filter(F.col("rk") <= k).drop("rk")
