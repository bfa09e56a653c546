"""Z-order (Morton) data layout for multi-dimensional row-group skipping.

Beyond-reference, scale-first component. Parquet scans prune row groups
whose column min/max statistics miss the pushed filter — but min/max
stats are only selective on columns the data is physically clustered
by. A linear sort clusters ONE column; interleaving the bits of two
rank-scaled key columns (the public Morton/Z-order curve, as shipped by
Delta Lake's OPTIMIZE ZORDER and Apache Hudi's space-filling-curve
layout) makes row-group stats selective on BOTH: a box predicate
``a BETWEEN .. AND b BETWEEN ..`` then touches O(boundary) row groups
instead of all of them.

At 100 TB this composes multiplicatively with partition pruning:
partition by the coarse key (day), Z-order each partition's files by
the two hot residual predicates, and a typical point-in-box query reads
a few row groups per touched partition. The curve value is computed
with built-in bitwise expressions (whole-stage codegen, no UDF), the
clustering itself is one ``repartitionByRange`` shuffle + an in-task
sort — exactly the cost of a linear sort-write.

Everything here is layout-only: the rows are bit-identical to the
unclustered table, which is what the ``rel_zorder_scan`` oracle proves
(plans/layout.py) while tests/test_layout.py measures the actual
row-group-skipping win from the written parquet footers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from gazelle_plugin_spark.sources import io

#: bits per dimension in the interleaved curve value (2 dims * 16 bits
#: = a 32-bit z-value: plenty — row-group boundaries are millions of
#: rows apart at scale, far coarser than 2^16 buckets per dimension).
Z_BITS = 16


def z_value(a: Column, b: Column, bits: int = Z_BITS) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative int
    columns (``a`` even positions, ``b`` odd) as a LONG. Pure bitwise
    built-ins — stays inside whole-stage codegen."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1)
        )
    return z


def _scaled(col: Column, lo, hi, bits: int) -> Column:
    """Min/max-scale a numeric column to an int in [0, 2^bits); 0 when
    the column has no range (one value, or no non-null value)."""
    mask = (1 << bits) - 1
    span = 0.0 if lo is None or hi is None else float(hi) - float(lo)
    if span <= 0:
        return F.lit(0)
    scaled = F.floor((col.cast("double") - F.lit(float(lo))) * F.lit(float(mask)) / F.lit(float(span)))
    return F.least(F.lit(mask).cast("long"), scaled).cast("int")


def zorder_curve(
    df: DataFrame, cols: Sequence[str], bits: int = Z_BITS
) -> Column:
    """The z-curve Column for two columns of ``df``, min/max-scaled
    from one stats probe: an aggregate that scans the whole input (2 of
    ``zorder_write``'s 5 Spark jobs)."""
    c0, c1 = cols
    lo0, hi0, lo1, hi1 = df.agg(
        F.min(c0), F.max(c0), F.min(c1), F.max(c1)
    ).first()
    return z_value(
        _scaled(F.col(c0), lo0, hi0, bits),
        _scaled(F.col(c1), lo1, hi1, bits),
        bits,
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int,
    bits: int = Z_BITS,
    **options: str,
) -> None:
    """Write ``df`` as parquet clustered on the z-curve of two columns:
    ``repartitionByRange`` on the curve value (contiguous curve spans
    per file) + ``sortWithinPartitions`` (contiguous curve spans per
    row group). One shuffle, same cost shape as a plain sorted write.

    ``options`` pass through to the parquet writer (e.g. a small
    ``parquet.block.size`` in tests to force many row groups)."""
    if len(cols) != 2:
        raise ValueError("z-order layout interleaves exactly 2 columns")
    z = zorder_curve(df, cols, bits)
    clustered = (
        df.withColumn("__zval", z)
        .repartitionByRange(num_files, "__zval")
        .sortWithinPartitions("__zval")
        .drop("__zval")
    )
    io.write(clustered, path, **options)


def compact(
    spark,
    path: str,
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
) -> int:
    """Rewrite a directory of many small files into
    ``ceil(total_bytes / target_bytes)`` files of ~target size — the
    small-files remedy for a 100 TB lake (tiny files multiply scan
    tasks, listing cost, and footer overhead).

    The merge is a ``coalesce`` — a NARROW dependency that packs
    existing input splits into fewer write tasks with no shuffle; the
    rows are untouched. The rewrite stages into a sibling temp dir and
    swaps via two renames. Each rename is atomic, but the SWAP is not:
    between them ``path`` briefly does not exist, so a concurrent
    reader can get path-not-found (never a partial directory), and a
    crash in that window strands the data under ``<path>.old.<pid>`` —
    recovered automatically on the next ``compact()`` of the same path.

    **Filesystem contract: local FS / HDFS only.** Object stores
    (S3/GCS) implement rename as copy+delete — neither atomic nor
    cheap; there a table format with a manifest commit (Iceberg/Delta)
    is the right compaction vehicle. See SCALE.md.

    Returns the output file count."""
    import glob
    import math
    import os
    import shutil

    base = path.rstrip("/")
    # Crash cleanup runs on EVERY entry: a previous compact() that died
    # before its first rename leaks <path>.compact.<pid>; one that died
    # after its second rename (before rmtree) leaks <path>.old.<pid>.
    for orphan in glob.glob(f"{base}.compact.*"):
        shutil.rmtree(orphan, ignore_errors=True)
    stranded = sorted(glob.glob(f"{base}.old.*"), key=os.path.getmtime)
    if not os.path.exists(path):
        # crash recovery: a previous compact() died between its two
        # renames — restore the newest stranded snapshot
        if stranded:
            os.rename(stranded[-1], path)
            stranded = stranded[:-1]
    # with path present, every .old snapshot is superseded garbage —
    # keeping it risks "recovering" it over a later deliberate delete
    for extra in stranded:
        shutil.rmtree(extra, ignore_errors=True)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_bytes))
    tmp = f"{base}.compact.{os.getpid()}"
    old = f"{base}.old.{os.getpid()}"
    io.write(io.read(spark, path, fmt=fmt).coalesce(n), tmp, fmt=fmt)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n
