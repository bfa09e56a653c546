"""Bucketed tables: shuffle-free co-located joins.

The reference co-locates joins by replacing the shuffle machinery
(ColumnarShuffleExchangeExec + native splitters); the Spark-native way
is to pre-bucket fact tables at rest on their dominant join key —
both sides of a join bucketed on the same key into the same bucket
count join with ZERO exchange (tests/test_sources.py asserts the
Exchange-free plan).

This is the single biggest 100 TB lever (SCALE.md "what changes on a
real cluster" item 2): a nightly 100 TB fact table bucketed by
orderkey turns every subsequent orders-lineitem join from a full
shuffle into a local zip of bucket files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally per-bucket sorted)
    parquet table: managed, or external at ``path`` (its files stay
    when the table is dropped). Sorting by the join key additionally
    lets sort-merge joins skip their sort."""
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table; Spark's scan reports the bucket spec so
    downstream joins/aggs on the bucket key skip their exchange."""
    return spark.table(table)
