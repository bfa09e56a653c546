"""Join operators Spark has no single call for.

The reference implements three equi-join families — broadcast hash,
shuffled hash, sort-merge (reference:
com/intel/oap/execution/ColumnarBroadcastHashJoinExec.scala:102-104,
ColumnarShuffledHashJoinExec.scala:141-143,
ColumnarSortMergeJoinExec.scala:124-131). Each is one
``DataFrame.join`` here, with ``F.broadcast`` or a ``SHUFFLE_HASH`` /
``MERGE`` hint when a builder pins the strategy, so Catalyst/AQE keep
runtime re-planning (skew split, broadcast demotion). Cross joins are
``crossJoin`` plus a filter.

What stays in this module are the two join types the reference
flagged specially and the DataFrame API cannot express directly:
null-aware anti (ColumnarOverrides.scala:260 ``nullAware``) and
existence (ColumnarSortMergeJoinExec.scala:208-213).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_aware_anti_join(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """SQL ``left_key NOT IN (SELECT right_key FROM right)`` semantics
    (null-aware anti join, reference: ColumnarOverrides.scala:260
    ``nullAware`` flag):

    - right empty           -> keep every left row (even null keys);
    - right contains NULL   -> empty result;
    - otherwise             -> left rows with non-null keys that match
                               no right key.

    Implemented as a broadcast 1-row stats relation + plain anti join,
    so the big side streams once with no extra shuffle."""
    stats = right.agg(
        F.count(F.lit(1)).alias("__naaj_total"),
        F.count(right_key).alias("__naaj_nonnull"),
    )
    keys = right.select(F.col(right_key).alias("__naaj_key")).filter(
        F.col("__naaj_key").isNotNull()
    )
    keep = (F.col("__naaj_total") == 0) | (
        (F.col("__naaj_total") == F.col("__naaj_nonnull")) & F.col(left_key).isNotNull()
    )
    return (
        left.join(F.broadcast(stats))
        .filter(keep)
        .join(F.broadcast(keys), F.col(left_key) == F.col("__naaj_key"), "left_anti")
        .drop("__naaj_total", "__naaj_nonnull")
    )


def existence_join(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str, flag: str = "exists"
) -> DataFrame:
    """ExistenceJoin analog (reference:
    ColumnarSortMergeJoinExec.scala:208-213): left rows + boolean mark
    column, the planner's form of ``EXISTS`` in a disjunction."""
    marks = (
        right.select(F.col(right_key).alias("__ex_key"))
        .filter(F.col("__ex_key").isNotNull())
        .distinct()
        .withColumn("__ex_mark", F.lit(True))
    )
    return (
        left.join(marks, F.col(left_key) == F.col("__ex_key"), "left_outer")
        .withColumn(flag, F.coalesce(F.col("__ex_mark"), F.lit(False)))
        .drop("__ex_key", "__ex_mark")
    )
