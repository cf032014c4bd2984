"""Real-ORC interop bridge.

The reference's raison d'être is reading/writing actual ORC files, including
Java-written goldens (/root/reference/testing/interop_reader_test.go:19-59).
Our engine's stripe table is its own (ORC-flavored) format, so this module
is the bridge to on-disk ORC:

- ingest: `spark.read.orc` (Spark's built-in Java ORC reader — the same
  implementation family whose files the reference's interop tests pin) feeds
  `engine.encode_df` directly;
- export: any decoded DataFrame writes back with `df.write.orc`, zlib by
  default like the reference writer (/root/reference/orc/writer.go headers);
- a pyarrow.orc cross-check path exists for JVM-free verification (the size
  gate in bench.py already uses it).

Everything heavy stays in the JVM scan/encode path — the bridge adds no
Python per-row work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from goorc_spark import engine


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, compression: str = "zlib",
              mode: str = "overwrite") -> None:
    df.write.mode(mode).option("compression", compression).orc(path)


def encode_from_orc(spark: SparkSession, path: str,
                    cfg: engine.EncodeConfig | None = None) -> DataFrame:
    """ORC file(s) -> stripe table (the reference's read side, re-keyed)."""
    return engine.encode_df(read_orc(spark, path), cfg)


def encode_from_orc_native(spark: SparkSession, path_glob: str,
                           cfg: engine.EncodeConfig | None = None) -> DataFrame:
    """ORC file(s) -> stripe table through the NATIVE byte decoder
    (orc_native.read_orc_stripes: stripe ranges packed into tasks, repo
    codecs, no JVM ORC) — ingest parity with the reference's own reader."""
    from goorc_spark import orc_native

    return engine.encode_df(orc_native.read_orc_stripes(spark, path_glob),
                            cfg)


def export_orc(stripes: DataFrame, spec: list[dict], path: str,
               compression: str = "zlib",
               columns: list[str] | None = None) -> None:
    """Stripe table -> real ORC files (the reference's write side): decode
    (optionally projected) and hand the rows to the JVM ORC writer."""
    write_orc(engine.decode_df(stripes, spec, columns=columns), path,
              compression=compression)


def export_orc_native(stripes: DataFrame, spec: list[dict], path: str,
                      compression: str = "zlib",
                      columns: list[str] | None = None,
                      row_index_stride: int = 0,
                      bloom_columns: tuple = (),
                      bloom_fpp: float = 0.05) -> None:
    """Stripe table -> real ORC files with NO JVM ORC code anywhere:
    decode with the engine, serialize with orc_native.write_orc (one file
    per partition). The full circle — engine stripes to
    independently-readable ORC bytes — using only this repo's codecs.
    `row_index_stride` / `bloom_columns` pass through to the native
    writer, so exported files carry seekable row groups and
    BLOOM_FILTER_UTF8 point-lookup pruning."""
    from goorc_spark import orc_native

    orc_native.write_orc_files(
        engine.decode_df(stripes, spec, columns=columns), path,
        compression=compression, row_index_stride=row_index_stride,
        bloom_columns=bloom_columns, bloom_fpp=bloom_fpp)
