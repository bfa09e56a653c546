"""Shared helpers for query builders.

Exact-aggregation convention: the driver compares Spark vs DuckDB by
value-hash, so float aggregates must be bit-deterministic. Money-like
doubles (2 fractional digits) are cast to DECIMAL before SUM — decimal
addition is exact and associative in both engines — then the final
result is cast back to DOUBLE. Both sides of every oracle pair follow
the same convention.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gazelle_plugin_spark.catalog import read_parquet, table_path
from gazelle_plugin_spark.session import _PACKAGE_ROOT


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, name))


def sort_small(df: DataFrame, *cols: str | Column) -> DataFrame:
    """``df`` ordered by ``cols`` like ``df.orderBy(*cols)``, for a
    BOUNDED result only: an aggregate over keys from fixed domains
    (flags, priorities, nations, regions, years, segments,
    brand/type/size, city buckets), a few thousand rows at any scale.

    ``orderBy`` range-partitions its input, which costs a sampling job
    and a range shuffle (two Spark jobs per query); this merges the
    partitions into one task and sorts it there, so the whole result
    must fit one task. Per-customer, per-order or per-part outputs grow
    with the data and keep ``orderBy``; ``orderBy(...).limit(n)`` is
    already one ``TakeOrderedAndProject`` stage and keeps it too."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def materialize_once(sf_dir: str, name: str, write: Callable[[str], None]) -> str:
    """The directory of mirror ``name`` (an at-rest copy of ``sf_dir``'s
    tables), ``.mirror_cache/<sf>/<name>`` in the checkout (gitignored),
    written by ``write(path)`` only if no earlier run left it complete.

    Complete means it holds the ``_SUCCESS`` marker every Spark file
    commit leaves; a directory without it is a crashed run's and is
    removed. ``write`` targets a pid-suffixed sibling that is renamed
    into place atomically, so concurrent first-time builders never see a
    partial mirror: the loser of the rename race discards its copy."""
    dst = os.path.join(_PACKAGE_ROOT, ".mirror_cache", os.path.basename(sf_dir.rstrip("/")), name)
    marker = os.path.join(dst, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(dst, ignore_errors=True)
        tmp = f"{dst}.tmp.{os.getpid()}"
        write(tmp)
        if not os.path.exists(marker):
            try:
                os.rename(tmp, dst)
            except OSError:  # a concurrent winner renamed first
                pass
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise RuntimeError(f"mirror {name!r} of {sf_dir} failed to materialize")
    return dst


def shuffle_width(spark: SparkSession) -> int:
    """Explicit partition count for plan-side ``repartition`` calls and
    the cogrouped numpy kernels' bucket width: the session's
    ``spark.sql.shuffle.partitions`` (the same scale knob every other
    exchange uses), at least 1, falling back to ``defaultParallelism``
    when the conf is non-numeric (e.g. ``auto`` on platforms that let a
    resource manager size it)."""
    try:
        return max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        return max(1, spark.sparkContext.defaultParallelism)


def dec(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def dsum(col: str | Column) -> Column:
    """Exact SUM of a money-like double, returned as double."""
    return F.sum(dec(col)).cast("double")


def davg(col: str | Column) -> Column:
    """Deterministic AVG: exact decimal sum divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


def one_minus(col: str) -> Column:
    """(1 - rate) as decimal(4,2) — rates have two fractional digits."""
    return (F.lit(1.0) - F.col(col)).cast("decimal(4,2)")


def one_plus(col: str) -> Column:
    return (F.lit(1.0) + F.col(col)).cast("decimal(4,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal product."""
    return dec("l_extendedprice") * one_minus("l_discount")


#: SQL fragments mirroring the helpers above (DuckDB side).
SQL_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))"
SQL_CHARGE = SQL_DISC_PRICE + " * CAST(1 + l_tax AS DECIMAL(4,2))"


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE)"


def sql_davg(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE) / COUNT({col})"


def md5h60(col: str | Column) -> Column:
    """Deterministic cross-engine 60-bit hash: first 15 hex chars of
    md5, as a bigint. DuckDB twin: ``sql_md5h60``. Used wherever both
    engines must agree on hash VALUES (minhash, simhash) — Spark's
    murmur3 ``hash()`` and DuckDB's ``hash()`` differ, md5 doesn't."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_md5h60(expr: str) -> str:
    """DuckDB twin of :func:`md5h60`."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"
