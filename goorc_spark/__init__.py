"""goorc_spark — a PySpark-native per-column lightweight-compression engine.

Re-expresses the encoding repertoire of the reference Go ORC library
(PatrickHuang888/goorc) as vectorized numpy kernels driven from Spark
``mapInArrow`` stages (zero-copy Arrow buffer extraction), with a per-stripe
codec auto-selector the reference lacks. Nothing here is a translation of the reference's Go code: the wire
formats are implemented from the public ORC v1 specification, pinned by the
reference's published unit-test vectors (ported as pytest fixtures in
``tests/``).

Layout
------
``goorc_spark.codecs``      numpy codec kernels (RLEv2, RLEv1, byte/bool
                            RLE, varint/zigzag, bitpack, FSST, floats,
                            timestamps, murmur3 blooms, zstd/zlib/lz4 chunk
                            container), with an optional C fast path for
                            the hottest ones (``codecs._native``)
``goorc_spark.selector``    codec auto-selection rules
``goorc_spark.arrow_stripe`` Arrow-native stripe assembly (the engine's hot
                            path; wire format pinned by golden fixtures in
                            ``tests/fixtures/``), incl. nested
                            struct/list/map columns
``goorc_spark.orc_native``  native ORC byte-format reader (real .orc files
                            decoded by the repo's own codecs, no JVM)
``goorc_spark.engine``      Spark pipeline: partitioning, salting, encode,
                            decode, projection, pruning, lineage/resume
``goorc_spark.streaming``   Structured Streaming incremental encode,
                            stateful conversation stats, watermarked
                            windowed ingest rollup
``goorc_spark.orc_bridge``  real-ORC file interop (ingest/export)
``goorc_spark.transcripts`` deterministic transcripts table (synthetic +
                            derived-from-events with a DuckDB oracle twin)
``goorc_spark.pipeline_ops`` training-data ops: dedup + decontamination,
                            similarity search, text analysis, deterministic
                            splits/sampling/packing, multimodal stubs
"""

import sys as _sys

__version__ = "0.1.0"

# Inside a PySpark Python worker the package is first imported while an
# engine UDF is unpickled; from then on this worker's tasks skip the
# per-task re-read of pyspark.zip (see _pyworker). The Spark driver, tests
# and no-JVM library processes keep the stdlib zipimport.
_tc = _sys.modules.get("pyspark.taskcontext")
if _tc is not None and _tc.TaskContext.get() is not None:
    from goorc_spark import _pyworker

    _pyworker.install()
del _sys, _tc
