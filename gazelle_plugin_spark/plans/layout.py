"""Z-order layout query: a box-predicate aggregate over a z-ordered
lineitem mirror, value-hash-proven against the raw table.

Same format-parity discipline as the ORC path (plans/ssb.py
orc_ssb2_1): the mirror materializes once per sf_dir
(``_util.materialize_once``), and the registered query runs over the
MIRROR while the DuckDB oracle runs over the RAW parquet — layout
changes must not change one row. The actual skipping win (row groups
pruned on BOTH box columns) is measured from the written footers in
tests/test_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import (
    SQL_DISC_PRICE,
    dec,
    disc_price,
    materialize_once,
    sql_dsum,
    t,
)

#: z-order clustering keys and the box predicate the query pushes
_ZCOLS = ("l_partkey", "l_suppkey")
_PART_LO, _PART_HI = 100, 300
_SUPP_LO, _SUPP_HI = 2, 40

#: files in the mirror (small and fixed — test scale; at 100 TB this is
#: ceil(partition_bytes / target_file_bytes) per date partition)
_FILES = 4


@query(
    "rel_zorder_scan",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem
WHERE l_partkey BETWEEN {_PART_LO} AND {_PART_HI}
  AND l_suppkey BETWEEN {_SUPP_LO} AND {_SUPP_HI}
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def rel_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-predicate scan-aggregate over the z-ordered mirror
    (sources/layout.py). The pushed min/max filters land on a layout
    where row-group stats are selective on BOTH box columns; the
    oracle runs the same predicate over the raw table, proving the
    layout is row-identical."""
    from gazelle_plugin_spark.sources import layout

    lineitem = t(spark, sf_dir, "lineitem")
    path = materialize_once(
        sf_dir, "zorder/lineitem",
        lambda tmp: layout.zorder_write(lineitem, tmp, _ZCOLS, _FILES),
    )
    # zorder_write drops its curve column: the mirror has lineitem's
    # schema, so reading it with that schema starts no inference job
    li = spark.read.schema(lineitem.schema).parquet(path)
    return (
        li.filter(
            F.col("l_partkey").between(_PART_LO, _PART_HI)
            & F.col("l_suppkey").between(_SUPP_LO, _SUPP_HI)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(disc_price()).cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )
