"""Temporal joins: as-of and bounded range joins.

The reference has NO range/as-of/interval join kernels (SURVEY.md
§2.3: "No range/as-of/interval join kernels exist") — theta joins fall
back to row-based NLJ. These are nonetheless core training-pipeline
operators (attach the latest config/model/state at event time; window
co-occurrence), so the engine provides them as compositions of
built-ins per the brief's custom-operator ladder:

- ``asof_join``: union-and-carry-forward — tag both sides, union on
  (key, time), per key carry the last right-side values forward with a
  window, keep left rows. ONE shuffle on the key, no theta join at
  all; scales like any window aggregate.
- ``range_join_buckets``: equi-join on (key, time-bucket) with the
  right side exploded to adjacent buckets, residual |dt| filter after.
  Turns an unbounded theta join into a bucketed equi-join — cost is
  sum of bucket co-occupancy, never |L|x|R| per key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """For each left row, attach ``value_cols`` from the latest right
    row with ``right_time <= left_time`` (a backward as-of join), per
    ``key``. Left rows with no prior right row get NULLs.

    Ties (equal timestamps) resolve right-row-first, so a right row at
    exactly left_time IS visible — matching DuckDB's ASOF JOIN (>=).

    The right-side values ride in ONE struct carried whole by
    last(ignorenulls): a matched right row whose value column is NULL
    still wins (true ASOF semantics — per-column carry would skip it
    and surface a stale older value), and the struct doubles as the
    final orderBy key so ties among right rows at the same timestamp
    resolve deterministically (greatest value-tuple wins).
    """
    l_tagged = left.withColumn("__t", F.col(left_time)).withColumn(
        "__is_left", F.lit(1)
    )
    r_tagged = (
        right.select(
            F.col(key),
            F.col(right_time).alias("__t"),
            F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__r_vals"),
        )
        .withColumn("__is_left", F.lit(0))
    )
    for c in r_tagged.columns:
        if c not in l_tagged.columns:
            l_tagged = l_tagged.withColumn(c, F.lit(None).cast(r_tagged.schema[c].dataType))
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # right rows sort BEFORE left rows at equal __t, so last_value
    # (ignorenulls) carries a same-instant right row into the left row
    w = (
        Window.partitionBy(key)
        .orderBy("__t", "__is_left", F.col("__r_vals").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last("__r_vals", ignorenulls=True).over(w).alias("__asof_vals"),
    )
    out = carried.filter(F.col("__is_left") == 1)
    for c in value_cols:
        out = out.withColumn(
            c if c not in left.columns else f"asof_{c}", F.col(f"__asof_vals.{c}")
        )
    return out.drop("__t", "__is_left", "__r_vals", "__asof_vals")


def range_join_buckets(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_delta: int,
) -> DataFrame:
    """Join left and right rows sharing ``key`` whose times differ by
    at most ``max_delta`` (same units as the time columns, e.g. epoch
    micros). Implemented as an equi-join on (key, bucket) with the
    LEFT side exploded into its bucket and both neighbors — every
    in-range pair shares one of those buckets; a residual |dt| filter
    removes same-bucket pairs that are still too far apart."""
    bucket_l = F.expr(f"explode(array({left_time} div {max_delta} - 1, "
                      f"{left_time} div {max_delta}, {left_time} div {max_delta} + 1))")
    l = left.withColumn("__bucket", bucket_l)
    r = right.withColumn("__bucket", F.expr(f"{right_time} div {max_delta}"))
    lk, rk = F.col(f"l.{key}"), F.col(f"r.{key}")
    joined = l.alias("l").join(
        r.alias("r"),
        (lk == rk) & (F.col("l.__bucket") == F.col("r.__bucket")),
    )
    dt = F.col(f"l.{left_time}") - F.col(f"r.{right_time}")
    return joined.filter(F.abs(dt) <= max_delta).drop("__bucket")
