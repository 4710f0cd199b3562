"""Pure-Python extraction kernels (no Spark imports).

These implement the per-document semantics of the reference
(silver-byte/docwire) and are executed inside Arrow-batched
``mapInArrow`` UDFs by :mod:`docwire_spark.spark`.
"""

from docwire_spark.kernel.api import ExtractResult, extract  # noqa: F401
