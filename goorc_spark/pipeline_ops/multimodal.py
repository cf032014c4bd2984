"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark side — schema, partitioning, Arrow batch shapes, UDF signatures —
is real and tested. The actual media decoding is STUBBED: the container has
no image/audio libraries, so `decode_image` raises NotImplementedError
unless `fake=True`, in which case a clearly-marked deterministic fake
(byte-histogram "features", md5-derived "dimensions") exercises the exact
same plumbing end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),   # image/audio/video
    T.StructField("payload", T.BinaryType(), True),        # opaque bytes
    T.StructField("meta_width", T.IntegerType(), True),
    T.StructField("meta_height", T.IntegerType(), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("digest", T.StringType(), False),
    T.StructField("features", T.ArrayType(T.FloatType()), False),
])


def synth_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rng = np.random.default_rng(seed)
    rows = pd.DataFrame({
        "media_id": np.arange(n, dtype=np.int64),
        "media_type": [("image", "audio", "video")[i % 3] for i in range(n)],
        "payload": [rng.integers(0, 256, 256 + i, dtype=np.uint8).tobytes()
                    for i in range(n)],
        "meta_width": pd.array([64 + i % 32 for i in range(n)], dtype="Int32"),
        "meta_height": pd.array([48 + i % 16 for i in range(n)], dtype="Int32"),
    })
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def media_from_events(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table DERIVED from events.parquet (payload =
    utf-8 bytes of props): unlike synth_media_df, every byte is a SQL
    expression over driver testdata, so the media pipeline ops get real
    DuckDB oracles instead of rows-only checks."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("event_id") % 3 + 1).cast("int")).alias("media_type"),
        F.encode("props", "utf-8").alias("payload"),
        (F.col("event_id") % 32 + 64).cast("int").alias("meta_width"),
        (F.col("event_id") % 16 + 48).cast("int").alias("meta_height"),
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Real decode would go through PIL/libvips — not in this container."""
    raise NotImplementedError(
        "image decoding requires an imaging library not present in this "
        "environment; use extract_features(..., fake=True) for the "
        "deterministic plumbing-test fake")


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow delivers the binary column as a pandas Series of bytes; the UDF
    processes a whole batch per call (never per-row Python dispatch from
    Spark). At scale, repartition upstream so each task holds
    batch-of-images x decode cost, not one giant partition.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                decode_image(b"")  # raises: real decode unavailable
            payloads = [b if b is not None else b"" for b in pdf["payload"]]
            sizes = np.fromiter((len(b) for b in payloads), dtype=np.int64,
                                count=len(payloads))
            # ONE histogram pass over the concatenated buffer: bincount of
            # (segment_id * 8 + bucket) then reshape — no per-row loop
            # (md5 stays per payload: it has no vectorized form, and is the
            # cheap part)
            concat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            seg = np.repeat(np.arange(len(payloads)), sizes)
            hists = np.bincount(seg * 8 + (concat >> 5),
                                minlength=len(payloads) * 8) \
                .reshape(len(payloads), 8).astype(np.float32)
            feats = hists / np.maximum(sizes, 1)[:, None]
            digests = [hashlib.md5(b).hexdigest() for b in payloads]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "n_bytes": pd.array(sizes, dtype="int32"),
                "digest": digests,
                "features": list(feats),
            })

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("out_w", T.IntegerType(), False),
    T.StructField("out_h", T.IntegerType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("digest", T.StringType(), False),
    T.StructField("resized", T.BinaryType(), False),
])


def resize(media: DataFrame, out_w: int = 32, out_h: int = 24,
           fake: bool = True) -> DataFrame:
    """mapInPandas resize plumbing. A real implementation decodes via
    PIL/libvips (not in this container — `fake=False` raises through
    decode_image); the deterministic fake keeps the exact Spark-side
    contract (schema, Arrow batch shape, binary out column): 'resized'
    payload = first out_w*out_h*3 bytes of the source payload, with the
    digest over those bytes so the transform is oracle-checkable."""
    budget = out_w * out_h * 3

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                decode_image(b"")
            payloads = [bytes(b)[:budget] if b is not None else b""
                        for b in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "out_w": pd.array([out_w] * len(pdf), dtype="int32"),
                "out_h": pd.array([out_h] * len(pdf), dtype="int32"),
                "n_bytes": pd.array([len(b) for b in payloads], dtype="int32"),
                "digest": [hashlib.md5(b).hexdigest() for b in payloads],
                "resized": payloads,
            })

    return media.mapInPandas(_resize, schema=RESIZE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' plumbing: slice each payload into fixed windows and
    explode to one row per frame — the shape video pipelines need. Pure
    built-ins (no Python): byte slicing via substring on binary."""
    n_frames = F.greatest(F.floor(F.length("payload") / every_n_bytes), F.lit(1))
    return media.select(
        "media_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_frames.cast("int") - 1),
                lambda i: F.substring(F.col("payload"), i * every_n_bytes + 1,
                                      every_n_bytes),
            )
        ).alias("frame_idx", "frame_bytes"),
    )
