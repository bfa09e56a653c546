"""Sources and sinks.

The reference reads parquet, ORC and CSV through one Arrow Dataset
facade (reference: arrow-data-source/standard/.../v2/arrow/
ArrowUtils.scala:212-218, ``case "parquet"/"orc"/"csv"``), pushes
filters/column pruning into the scan (ArrowFilters.scala:28-48), and
writes via ArrowFileFormat + ArrowWriteExtension (ArrowWriteExtension.
scala:43-108). Spark's own DSv2 readers/writers are the direct analog
— vectorized, pushdown-capable, columnar.

- ``io``: ``read``/``write`` (format check, CSV header rule) and the
  distributed Arrow IPC reader/writer;
- ``layout``: z-order clustered writes and small-file compaction;
- ``bucketing``: bucketed tables for shuffle-free co-located joins.

The reference's columnar cache (ColumnarInMemoryTableScanExec) is
``DataFrame.persist``: Spark's CachedBatchSerializer is already
columnar.

Verified by tests/test_sources.py and tests/test_layout.py.
"""
