"""Vectorized UDF surface.

Analog of the reference's two UDF paths: the name-keyed columnar UDF
registry (reference: expression/ColumnarUDF.scala:90-117 — URLDecoder
is its worked example) and the Arrow-batched Python eval path
(org/apache/spark/sql/execution/python/ColumnarArrowEvalPythonExec.
scala:46). In Spark both collapse to ``pandas_udf``: Arrow batches to
the Python worker, no row conversion — the exact mechanism the
reference re-implemented.
"""

from gazelle_plugin_spark.functions.registry import register_builtin_udfs

__all__ = ["register_builtin_udfs"]
