"""Two-phase aggregation for skewed low-cardinality keys.

Analog of ColumnarHashAggregateExec (reference:
com/intel/oap/execution/ColumnarHashAggregateExec.scala:62,309-445).
Spark's HashAggregateExec already executes partial/final two-phase
hash aggregation with map-side combine, and ``groupBy``/``rollup``/
``cube``/``groupingSets`` cover the grouping-set expansion of
ColumnarExpandExec, so builders call those directly. The one helper
left here salts the keys when a few hot keys would funnel the shuffle
into a few reducers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def skew_safe_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    salt_buckets: int = 64,
) -> DataFrame:
    """Two-phase aggregation for skewed low-cardinality keys.

    Phase 1 salts each row with a per-row bucket id and aggregates per
    ``(keys..., salt)``; phase 2 re-aggregates the partials per
    ``keys`` alone. Only decomposable aggregates are expressible —
    callers supply the pair explicitly, e.g. for an average::

        partial = [F.sum("x").alias("px"), F.count("x").alias("pc")]
        final   = [(F.sum("px") / F.sum("pc")).alias("avg_x")]

    ``final_aggs`` see only the aliased partial columns.

    At 100 TB a groupBy on e.g. a 5-value key funnels everything into
    5 reducers; the salt spreads phase 1 across ``salt_buckets``
    reducers per key and phase 2 touches only keys*buckets rows.
    (Spark's own map-side partial aggregation usually achieves the
    same; this helper is for aggregates where the partial state is
    wide, or when AQE skew handling is unavailable.)
    """
    # per-row salt: id-derived so the same key scatters across buckets
    salted = df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)
