"""The lake_etl workload: seven writes through the sources layer, then
six pruned read-backs of what was written.

Each pass writes into a fresh directory. The seed permutes the write
order and the read-back order, and picks each read-back's predicate
constants. Every read-back is a count and an exact decimal sum, checked
against the same aggregate that DuckDB computes on the source tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from gazelle_plugin_spark.sources import bucketing, io, layout

#: managed tables the bucketed writes create (dropped when the run ends)
TABLES = ("lake_customer", "lake_orders")

#: files of the small-files write that layout.compact merges
SMALL_FILES = 16

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@dataclass(frozen=True)
class Write:
    name: str
    source: str  # the source table written
    fn: Callable  # (spark, tables, out, warehouse) -> [written dirs]


@dataclass(frozen=True)
class Read:
    name: str
    fn: Callable  # (spark, out, consts) -> DataFrame
    oracle: Callable  # consts -> DuckDB SQL over the source tables


def _w_partitioned(spark, t, out, wh):
    path = f"{out}/orders_by_year"
    io.write(t["orders"].withColumn("o_year", F.year("o_orderdate")), path,
             partition_by=["o_year"])
    return [path]


def _w_orc(spark, t, out, wh):
    path = f"{out}/customer_orc"
    io.write(t["customer"], path, fmt="orc")
    return [path]


def _w_zorder(spark, t, out, wh):
    path = f"{out}/customer_z"
    layout.zorder_write(t["customer"], path, ("c_custkey", "c_acctbal"), num_files=4)
    return [path]


def _w_bucketed(table: str, source: str, key: str):
    def write(spark, t, out, wh):
        bucketing.write_bucketed(t[source], table, [key], num_buckets=8)
        return [os.path.join(wh, table)]

    return write


def _w_ipc(spark, t, out, wh):
    path = f"{out}/events_ipc"
    io.write_arrow_ipc(t["events"], path)
    return [path]


def _w_compact(spark, t, out, wh):
    """Many small files, then compacted in place."""
    path = f"{out}/part_small"
    io.write(t["part"].repartition(SMALL_FILES), path)
    layout.compact(spark, path)
    return [path]


WRITES = (
    Write("write_partitioned", "orders", _w_partitioned),
    Write("write_orc", "customer", _w_orc),
    Write("write_zorder", "customer", _w_zorder),
    Write("write_bucketed_customer", "customer",
          _w_bucketed("lake_customer", "customer", "c_custkey")),
    Write("write_bucketed_orders", "orders",
          _w_bucketed("lake_orders", "orders", "o_custkey")),
    Write("write_ipc", "events", _w_ipc),
    Write("write_compact", "part", _w_compact),
)


def _agg(df: DataFrame, col: str) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(col).cast("decimal(18,2)")).alias("s"),
    )


def _sql(col: str, source: str, where: str) -> str:
    return (f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
            f"SUM(CAST({col} AS DECIMAL(18,2))) AS s FROM {source} WHERE {where}")


READS = (
    Read("read_partition",
         lambda spark, out, c: _agg(io.read(spark, f"{out}/orders_by_year")
                                    .filter(F.col("o_year") == c["year"]), "o_totalprice"),
         lambda c: _sql("o_totalprice", "orders", f"year(o_orderdate) = {c['year']}")),
    Read("read_orc",
         lambda spark, out, c: _agg(io.read(spark, f"{out}/customer_orc", fmt="orc")
                                    .filter(F.col("c_nationkey") == c["nation"]), "c_acctbal"),
         lambda c: _sql("c_acctbal", "customer", f"c_nationkey = {c['nation']}")),
    Read("read_zrange",
         lambda spark, out, c: _agg(
             io.read(spark, f"{out}/customer_z").filter(
                 F.col("c_custkey").between(c["cust"], c["cust"] + 1_999)
                 & F.col("c_acctbal").between(c["bal"], c["bal"] + 2_999)),
             "c_acctbal"),
         lambda c: _sql("c_acctbal", "customer",
                        f"c_custkey BETWEEN {c['cust']} AND {c['cust'] + 1_999} "
                        f"AND c_acctbal BETWEEN {c['bal']} AND {c['bal'] + 2_999}")),
    Read("read_bucketed_join",
         lambda spark, out, c: _agg(
             bucketing.read_bucketed(spark, "lake_customer")
             .filter(F.col("c_mktsegment") == c["segment"])
             .join(bucketing.read_bucketed(spark, "lake_orders"),
                   F.col("c_custkey") == F.col("o_custkey")),
             "o_totalprice"),
         lambda c: _sql("o_totalprice", "customer JOIN orders ON c_custkey = o_custkey",
                        f"c_mktsegment = '{c['segment']}'")),
    Read("read_ipc",
         lambda spark, out, c: _agg(io.read_arrow_ipc(spark, f"{out}/events_ipc")
                                    .filter(F.col("user_id").between(c["user"], c["user"] + 149)),
                                    "value"),
         lambda c: _sql("value", "events", f"user_id BETWEEN {c['user']} AND {c['user'] + 149}")),
    Read("read_compacted",
         lambda spark, out, c: _agg(io.read(spark, f"{out}/part_small")
                                    .filter(F.col("p_size").between(c["size"], c["size"] + 4)),
                                    "p_retailprice"),
         lambda c: _sql("p_retailprice", "part", f"p_size BETWEEN {c['size']} AND {c['size'] + 4}")),
)


def constants(rng) -> dict:
    """One pass's predicate constants, drawn from the workload seed."""
    return {
        "year": rng.randint(1995, 2001),
        "nation": rng.randint(0, 24),
        "cust": rng.randint(0, 13_000),
        "bal": rng.randint(-1_000, 7_000),
        "segment": rng.choice(_SEGMENTS),
        "user": rng.randint(0, 1_350),
        "size": rng.randint(1, 46),
    }


def disk_usage(paths: list[str]) -> tuple[int, int]:
    """(data files, bytes) under ``paths``, skipping ``_``/``.`` files."""
    files = size = 0
    for path in paths:
        for root, _dirs, names in os.walk(path):
            for name in names:
                if not name.startswith(("_", ".")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, name))
    return files, size
