"""Z-order layout query: a box-predicate aggregate over a z-ordered
lineitem mirror, value-hash-proven against the raw table.

Same format-parity discipline as the ORC path (plans/ssb.py
_orc_mirror): the mirror materializes once per sf_dir under the repo's
gitignored ``.zorder_cache/`` (staged + atomically renamed, _SUCCESS
keyed), and the registered query runs over the MIRROR while the DuckDB
oracle runs over the RAW parquet — layout changes must not change one
row. The actual skipping win (row groups pruned on BOTH box columns)
is measured from the written footers in tests/test_layout.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from gazelle_plugin_spark.catalog import read_parquet
from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import (
    SQL_DISC_PRICE,
    dec,
    disc_price,
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


def _zorder_mirror(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the z-ordered lineitem mirror; return its
    path. Concurrent first-time runs stage into pid-suffixed dirs and
    atomically rename, exactly like plans/ssb.py _orc_mirror."""
    from gazelle_plugin_spark.sources import layout

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = os.path.join(
        repo_root, ".zorder_cache", os.path.basename(sf_dir.rstrip("/"))
    )
    dst = os.path.join(base, "lineitem")
    marker = os.path.join(dst, "_SUCCESS")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = f"{dst}.tmp.{os.getpid()}"
    layout.zorder_write(t(spark, sf_dir, "lineitem"), tmp, _ZCOLS, _FILES)
    if os.path.exists(marker):
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    else:
        try:
            os.rename(tmp, dst)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(marker):
        raise RuntimeError("z-order mirror failed to materialize")
    return dst


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
    li = read_parquet(spark, _zorder_mirror(spark, sf_dir))
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
