"""Bounded-bucket guard for self-join candidate generation.

Bucketed dedup joins (MinHash band buckets, SemDeDup cluster cells)
cost sum-of-bucket-sizes^2 — linear-ish when buckets are healthy, but
ONE degenerate bucket (a hot band signature, a giant cluster) turns
quadratic and lands in a single join task at 100 TB. AQE's skew-join
splits oversized PARTITIONS, not oversized single KEYS, so the guard
has to live in the plan.

:func:`cap_bucket` appends a salt column that splits any bucket larger
than ``cap`` into ``ceil(count / cap)`` hash-salted sub-buckets; the
self-join then matches on (bucket key, salt). Cost bound: a bucket of
n rows generates at most ``n * cap`` candidate pairs instead of
``n^2 / 2``, and no single join task sees more than ~``2 * cap`` build
rows (xxhash64 balance keeps sub-buckets within a small factor of the
mean). Recall: pairs whose two members hash into different sub-buckets
of an OVER-CAP bucket are missed — a documented, pathological-bucket-
only loss (candidate recall within healthy buckets is untouched, and
the default caps sit orders of magnitude above observed bucket sizes;
the capped candidate set is always a SUBSET of the uncapped one, so
precision is unaffected). tests/test_skew_guard.py plants degenerate
buckets and pins both the bound and the subset property.

The hot-bucket relation is tiny by construction (at most |rows| / cap
buckets exceed the cap), so it broadcasts; on healthy data it is empty
and every row keeps salt 0 — results are bit-identical to the
unguarded plan, which is why the DuckDB oracles need no change.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nsub():
    """Sub-bucket count of a row after the hot-bucket join: 1 outside
    the hot relation."""
    return F.coalesce(F.col("_nsub"), F.lit(1))


def _salt_hot(
    df: DataFrame, keys: list[str], id_col: str, cap: int, out: str
) -> tuple[DataFrame, DataFrame]:
    """The hot-bucket relation (keys..., _nsub) of ``df``'s over-cap
    buckets, and ``df`` with the ``out`` salt ``xxhash64(id_col) mod
    _nsub`` (0 in every bucket at or under ``cap``)."""
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > cap)
        .withColumn("_nsub", F.ceil(F.col("_cnt") / F.lit(cap)).cast("int"))
        .drop("_cnt")
    )
    salted = (
        df.join(F.broadcast(hot), keys, "left")
        .withColumn(out, F.pmod(F.xxhash64(F.col(id_col)), _nsub()).cast("int"))
        .drop("_nsub")
    )
    return salted, hot


def cap_bucket(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    cap: int,
    out: str = "sub",
) -> DataFrame:
    """Return ``df`` with an ``out`` salt column bounding every
    (key_cols..., out) bucket to ~``cap`` rows. Buckets at or under
    ``cap`` keep salt 0 (bit-identical join behavior); larger buckets
    split into ``ceil(count / cap)`` sub-buckets by ``xxhash64(id)``.
    """
    return _salt_hot(df, list(key_cols), id_col, cap, out)[0]


def cap_bucket_probe(
    build: DataFrame,
    probe: DataFrame,
    key_cols: Sequence[str],
    build_id: str,
    cap: int,
    out: str = "sub",
) -> tuple[DataFrame, DataFrame]:
    """Asymmetric hot-bucket guard for a probe->build bucket join
    (e.g. delta->base incremental dedup): salt the BUILD side's
    over-cap buckets exactly like :func:`cap_bucket`, and EXPLODE each
    probe row across the bucket's full sub-bucket range so every build
    sub-bucket is still probed.

    Unlike the self-join guard this loses NO recall — the probe visits
    all sub-buckets of an over-cap bucket — while bounding any single
    join task's build rows to ~``cap``. Probe duplication cost is
    ``ceil(bucket/cap)`` rows per (probe row, hot bucket): paid only
    where the build bucket is pathological, and spread across tasks by
    the salt. On healthy data both sides keep salt 0 and the join is
    bit-identical to the unguarded plan (oracles unchanged).

    Join the returned frames on (key_cols..., out)."""
    keys = list(key_cols)
    salted, hot = _salt_hot(build, keys, build_id, cap, out)
    exploded = (
        probe.join(F.broadcast(hot), keys, "left")
        .withColumn(out, F.explode(F.sequence(F.lit(0), _nsub() - F.lit(1))))
        .drop("_nsub")
    )
    return salted, exploded
