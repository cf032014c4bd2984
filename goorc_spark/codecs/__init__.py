"""Codec kernels: C kernels (`_native`, built on first use) run first; the
numpy twins are their reference and the fallback where no C compiler is
available (or GOORC_NATIVE=0).

Importable both from pytest and from inside Spark pandas UDFs; no Spark
dependency in this subpackage.
"""

from goorc_spark.codecs import (  # noqa: F401
    bitpack,
    boolrle,
    byterle,
    chunk,
    floats,
    fsst,
    primitives,
    rlev2,
    timestamps,
)
