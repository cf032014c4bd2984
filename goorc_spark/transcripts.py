"""The transcripts input table (BASELINE.json input_hint):
(conv_id string, turn_idx int, role string, text string, tool string,
 ts timestamp).

Two deterministic sources:

1. `synthesize_pandas` — seeded generator per FIXTURES.md §1: Zipf-skewed
   conversation sizes (mega-conversations exercise salting), monotone
   turn_idx, low-cardinality role/tool with nulls, text with repeated
   substrings / unicode / empties / >1 KB strings, timestamps with 0-7
   trailing-zero nanos spanning the 2015 epoch.

2. `transcripts_from_events` — derived from the driver's events.parquet via
   a window over (user_id), with `ORACLE_SQL` as the byte-identical DuckDB
   twin, so encode->decode round-trips have an exact SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["bash", "search", "python", None], dtype=object)

_WORDS = (
    "the of a to in scan filter join agg sort window merge shuffle stripe "
    "codec spark arrow batch column vector delta dict fsst rle pack stream "
    "turn conversation assistant tool result error retry plan think act"
).split()


def synthesize_pandas(n_convs: int = 50, seed: int = 42,
                      mega_conv_turns: int = 0) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    sizes = np.minimum(rng.zipf(1.6, n_convs) * 4, 400)
    if mega_conv_turns:
        sizes[0] = mega_conv_turns
    conv_ids = np.repeat(
        np.array([f"conv-{i:08d}" for i in range(n_convs)], dtype=object), sizes)
    n = len(conv_ids)
    turn_idx = np.concatenate([np.arange(s, dtype=np.int32) for s in sizes])

    roles = ROLES[rng.integers(0, 4, n)]
    tool_pick = rng.integers(0, 4, n)
    tools = TOOLS[tool_pick]
    tools[(roles != "tool") & (tool_pick == 3)] = None

    texts = np.empty(n, dtype=object)
    word_idx = rng.integers(0, len(_WORDS), (n, 24))
    lengths = rng.integers(0, 25, n)
    for i in range(n):
        k = lengths[i]
        if k == 0:
            texts[i] = ""
        else:
            texts[i] = " ".join(_WORDS[j] for j in word_idx[i, :k])
    # unicode, long (>1024 B), and highly-repetitive rows at fixed offsets
    for i in range(0, n, 97):
        texts[i] = "多轮对话 🙂 " + texts[i]
    for i in range(3, n, 211):
        texts[i] = (texts[i] + " padding") * 40  # > 1 KB
    for i in range(7, n, 53):
        texts[i] = "tool-call { name: bash, args: ls -la } " * 6

    # per-conversation monotone timestamps with jittered deltas, spanning 2015
    base_s = rng.integers(1_300_000_000, 1_750_000_000, n_convs)  # 2011..2025
    deltas = rng.integers(1, 240, n)
    starts = np.repeat(base_s, sizes)
    bounds = np.concatenate(([0], np.cumsum(sizes)))
    sec = starts + np.concatenate(
        [np.cumsum(deltas[bounds[i]:bounds[i + 1]]) for i in range(n_convs)])
    # microseconds with varied trailing zeros (nano-packing coverage)
    micro_choices = np.array([0, 1, 10, 100, 1000, 10000, 100000, 123456])
    micros = micro_choices[rng.integers(0, len(micro_choices), n)]
    ts = (sec * 1_000_000 + micros).astype("datetime64[us]")

    return pd.DataFrame({
        "conv_id": conv_ids,
        "turn_idx": pd.array(turn_idx, dtype="Int32"),
        "role": pd.Series(roles, dtype=object),
        "text": texts,
        "tool": pd.Series(tools, dtype=object),
        "ts": pd.Series(ts),
    })


TRANSCRIPTS_SPEC = [
    {"name": "conv_id", "kind": "string"},
    {"name": "turn_idx", "kind": "int"},
    {"name": "role", "kind": "string"},
    {"name": "text", "kind": "string"},
    {"name": "tool", "kind": "string"},
    {"name": "ts", "kind": "timestamp"},
]


def transcripts_from_events(spark, sf_dir: str):
    """Deterministic transcripts table derived from events.parquet.

    Must stay semantically identical to ORACLE_SQL below (row_number ordered
    by (ts, event_id) is a total order because event_id is unique)."""
    from pyspark.sql import Window, functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("conv-"),
                 F.lpad(F.col("user_id").cast("string"), 8, "0")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
         .when(F.col("event_type") == "purchase", "assistant")
         .when(F.col("event_type") == "signup", "system")
         .otherwise("tool").alias("role"),
        F.concat(F.lit("["), F.col("event_type"), F.lit("#"),
                 F.col("event_id").cast("string"), F.lit("] "),
                 F.col("props")).alias("text"),
        F.when(F.col("event_type") == "error", "bash")
         .when(F.col("event_type") == "purchase", "python")
         .otherwise(F.lit(None).cast("string")).alias("tool"),
        F.col("ts"),
    )


def synthesize_spark(spark, n_convs: int = 40_000, seed: int = 42,
                     mega_conv_turns: int = 0, rebalance: bool = True):
    """Deterministic, fully distributed transcripts generator — every column
    is a JVM-side expression over spark.range (xxhash64-driven pseudo-random),
    so synthesis itself scales with the cluster and the same (n_convs, seed)
    always yields bit-identical data. Used for the scaling benchmark where
    events.parquet is too small to keep 32 cores busy.

    Sizes are skewed 10..160 turns; conv 0 optionally becomes a
    mega-conversation (salting exercise). ~40k convs ≈ 2.0M turns.
    """
    from pyspark.sql import functions as F

    words = F.array(*[F.lit(w) for w in _WORDS])
    n_words = len(_WORDS)

    def h(*cols):
        return F.xxhash64(*cols, F.lit(seed))

    convs = spark.range(n_convs).select(
        F.col("id").alias("cid"),
        F.format_string("conv-%08d", F.col("id")).alias("conv_id"),
    )
    sizes = (F.pmod(h(F.col("cid")), F.lit(150)) + 10).cast("int")
    if mega_conv_turns:
        sizes = F.when(F.col("cid") == 0, mega_conv_turns).otherwise(sizes)
    df = convs.select(
        "cid", "conv_id",
        F.explode(F.sequence(F.lit(0), sizes - 1)).alias("turn_idx"),
    )
    hr = h(F.col("cid"), F.col("turn_idx"))
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (F.pmod(hr, F.lit(4)) + 1).cast("int"))
    tool = F.when(
        role == "tool",
        F.element_at(F.array(F.lit("bash"), F.lit("search"), F.lit("python")),
                     (F.pmod(hr, F.lit(3)) + 1).cast("int"))
    ).otherwise(F.lit(None).cast("string"))
    n_toks = (F.pmod(h(F.col("cid"), F.col("turn_idx"), F.lit(1)), F.lit(40)) + 1)
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_toks.cast("int")),
            lambda i: F.element_at(
                words,
                (F.pmod(F.xxhash64(F.col("cid"), F.col("turn_idx"), i,
                                   F.lit(seed)), F.lit(n_words)) + 1).cast("int")),
        ), " ")
    # monotone per-conversation timestamps: linear ramp with per-conv slope,
    # micros drawn from the nano-packing coverage set
    base_s = F.lit(1_400_000_000) + F.pmod(h(F.col("cid"), F.lit(2)), F.lit(200_000_000))
    slope = F.pmod(h(F.col("cid"), F.lit(3)), F.lit(240)) + 1
    micros = F.element_at(
        F.array(*[F.lit(v) for v in (0, 1, 10, 100, 1000, 10000, 100000, 123456)]),
        (F.pmod(hr, F.lit(8)) + 1).cast("int"))
    ts = F.timestamp_micros(
        ((base_s + F.col("turn_idx") * slope) * F.lit(1_000_000) + micros)
        .cast("long"))
    out = df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"), text.alias("text"), tool.alias("tool"),
        ts.alias("ts"),
    )
    if rebalance and mega_conv_turns:
        # The explode makes partition sizes follow CONVERSATION boundaries:
        # with a mega-conversation, one generator partition carries
        # mega_conv_turns extra rows (~25% at the scaling-bench shape), and
        # any map stage over the synthesized frame is bound by that one
        # straggler task. Round-robin to defaultParallelism so a full scan
        # is ONE wave of even tasks — scale-adaptive (derived from the
        # cluster, not a constant) and value-deterministic (every column is
        # a pure function of (cid, turn_idx), and downstream consumers
        # re-sort or aggregate, so row placement is free). Without a mega
        # conversation there is no straggler, so no shuffle either.
        out = out.repartition(spark.sparkContext.defaultParallelism)
    return out


# DuckDB twin of transcripts_from_events (the driver pre-registers `events`).
ORACLE_SQL = """
SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
            AS INTEGER) AS turn_idx,
       CASE WHEN event_type IN ('click', 'view') THEN 'user'
            WHEN event_type = 'purchase' THEN 'assistant'
            WHEN event_type = 'signup' THEN 'system'
            ELSE 'tool' END AS role,
       '[' || event_type || '#' || CAST(event_id AS VARCHAR) || '] ' || props
           AS text,
       CASE WHEN event_type = 'error' THEN 'bash'
            WHEN event_type = 'purchase' THEN 'python' END AS tool,
       ts
FROM events
"""
