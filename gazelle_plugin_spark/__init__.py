"""gazelle_plugin_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query capabilities of the reference
columnar engine (oap-project/gazelle_plugin, surveyed in SURVEY.md)
expressed idiomatically on Spark DataFrame/SQL/Catalyst instead of a
native C++/Gandiva execution layer.

Design stance (SURVEY.md §7):
- Declarative plans: every operator is a DataFrame composition so
  Catalyst does pushdown/pruning/join-selection and Tungsten does the
  vectorized execution the reference implemented natively. The plan
  builders in ``plans/`` call the DataFrame API directly.
- Of the reference's operator inventory (SURVEY.md §2), what the
  DataFrame API lacks lives in ``operators/``, ``functions/`` and
  ``sources/``; beyond-parity LLM-data-pipeline queries live in
  ``plans/`` (text_pipeline, similarity_queries, multimodal).
"""

from gazelle_plugin_spark.session import get_spark, session_confs
from gazelle_plugin_spark.catalog import TPCH_TABLES, ALL_TABLES, load_tables, register_views

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "session_confs",
    "TPCH_TABLES",
    "ALL_TABLES",
    "load_tables",
    "register_views",
]
