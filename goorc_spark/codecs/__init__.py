"""Pure-numpy codec kernels.

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
