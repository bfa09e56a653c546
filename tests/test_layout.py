"""Z-order layout (sources/layout.py, plans/layout.py): curve
correctness vs a Python Morton reference, the measured row-group
skipping win over a linear sort, and row-identity of the clustered
mirror."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gazelle_plugin_spark.plans._util import t
from gazelle_plugin_spark.sources import layout

from .conftest import SF_MED


def _morton_py(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def _rowgroup_overlap_fraction(path: str, column: str, lo, hi) -> float:
    """Fraction of the layout's parquet row groups whose [min, max]
    stats overlap [lo, hi] — the scan cost a stats-pruning reader pays
    for that predicate, read from the footers with pyarrow."""
    total = 0
    overlapping = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            stats = None
            for ci in range(group.num_columns):
                col = group.column(ci)
                if col.path_in_schema == column:
                    stats = col.statistics
                    break
            total += 1
            if stats is None or not stats.has_min_max:
                overlapping += 1  # no stats = must read
            elif not (stats.max < lo or stats.min > hi):
                overlapping += 1
    if total == 0:
        raise ValueError(f"no parquet row groups under {path}")
    return overlapping / total


def test_overlap_fraction_reads_statless_groups_and_refuses_empty_dir(tmp_path):
    table = pa.table({"k": list(range(100))})
    pq.write_table(table, tmp_path / "stats.parquet", row_group_size=10)
    assert _rowgroup_overlap_fraction(str(tmp_path), "k", 15, 25) == 0.2
    pq.write_table(table, tmp_path / "nostats.parquet", row_group_size=10, write_statistics=False)
    # the ten stat-less groups count as read whatever the predicate
    assert _rowgroup_overlap_fraction(str(tmp_path), "k", 1000, 2000) == 0.5
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet row groups"):
        _rowgroup_overlap_fraction(str(empty), "k", 0, 1)


def test_z_value_matches_python_reference(spark):
    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 77, 65535)]
    df = spark.createDataFrame(rows, "a int, b int")
    out = df.withColumn("z", layout.z_value(F.col("a"), F.col("b"))).collect()
    for r in out:
        assert r.z == _morton_py(r.a, r.b, layout.Z_BITS), (r.a, r.b)


def test_zorder_write_requires_two_columns(spark):
    df = spark.range(4)
    with pytest.raises(ValueError):
        layout.zorder_write(df, "/tmp/never", ["id"], 2)


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """lineitem written twice with identical file/row-group sizing:
    linear-sorted by l_partkey vs z-ordered by (l_partkey, l_suppkey).
    A small parquet block size forces many row groups so the footer
    stats are a meaningful pruning measurement."""
    base = tmp_path_factory.mktemp("layouts")
    li = t(spark, SF_MED, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    opts = {"parquet.block.size": "65536"}
    linear = str(base / "linear")
    (
        li.repartitionByRange(4, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .options(**opts)
        .parquet(linear)
    )
    zordered = str(base / "zordered")
    layout.zorder_write(li, zordered, ("l_partkey", "l_suppkey"), 4, **opts)
    return linear, zordered


def test_zorder_prunes_both_box_columns(layouts):
    linear, zordered = layouts
    # narrow box: ~5% of the l_partkey domain, ~11% of l_suppkey's
    part_frac_linear = _rowgroup_overlap_fraction(linear, "l_partkey", 100, 200)
    part_frac_z = _rowgroup_overlap_fraction(zordered, "l_partkey", 100, 200)
    supp_frac_linear = _rowgroup_overlap_fraction(linear, "l_suppkey", 10, 20)
    supp_frac_z = _rowgroup_overlap_fraction(zordered, "l_suppkey", 10, 20)
    # the linear layout prunes its sort column but reads everything on
    # the second column; the z-order prunes BOTH
    assert part_frac_linear < 0.35
    assert supp_frac_linear > 0.9
    assert part_frac_z < 0.65
    assert supp_frac_z < 0.65
    assert supp_frac_z < supp_frac_linear / 1.5


def test_zorder_layout_is_row_identical(spark, layouts):
    linear, zordered = layouts
    a = spark.read.parquet(linear)
    b = spark.read.parquet(zordered)
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty()


def test_compact_small_files(spark, tmp_path):
    """64 tiny files -> a handful of ~target-size files with the same
    rows, no stray staging dirs left behind; in CSV each file's header
    line stays a header, never a data row."""
    from gazelle_plugin_spark.sources import io

    li = t(spark, SF_MED, "lineitem").select("l_orderkey", "l_quantity")
    for fmt in ("parquet", "csv"):
        path = str(tmp_path / fmt)
        io.write(li.repartition(64), path, fmt=fmt)
        files_before = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(files_before) == 64
        before = sorted(io.read(spark, path, fmt=fmt).collect())

        n_out = layout.compact(spark, path, target_bytes=512 * 1024, fmt=fmt)
        files_after = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(files_after) == n_out < 16, fmt
        assert not [d for d in os.listdir(tmp_path) if ".old." in d or ".compact." in d]
        assert sorted(io.read(spark, path, fmt=fmt).collect()) == before, fmt


@pytest.mark.parametrize(
    "rows", [[], [(None, 1.0), (None, 2.5), (None, None)]], ids=["empty", "all_null_key"]
)
def test_zorder_write_without_key_range(spark, tmp_path, rows):
    """A key with no min/max (no rows, or only nulls) contributes 0 to
    the curve instead of failing the stats probe."""
    df = spark.createDataFrame(rows, "a int, b double")
    path = str(tmp_path / "z")
    layout.zorder_write(df, path, ("a", "b"), 2)
    assert sorted(spark.read.parquet(path).collect(), key=str) == sorted(df.collect(), key=str)


def test_compact_recovers_stranded_swap(spark, tmp_path):
    """A crash between compact()'s two renames leaves the data under
    <path>.old.<pid> and no <path>; the next compact() of the same
    path restores the snapshot before compacting. (The swap contract
    is local-FS/HDFS only — object stores need a manifest commit; see
    the compact() docstring and SCALE.md.)"""
    path = str(tmp_path / "frag")
    li = t(spark, SF_MED, "lineitem").select("l_orderkey", "l_quantity").limit(1000)
    li.repartition(8).write.parquet(path)
    n_rows = spark.read.parquet(path).count()
    # simulate the crash window: first rename done, second never ran
    os.rename(path, f"{path}.old.99999")
    assert not os.path.exists(path)
    n_out = layout.compact(spark, path, target_bytes=512 * 1024)
    assert n_out >= 1
    assert spark.read.parquet(path).count() == n_rows
    assert not [d for d in os.listdir(tmp_path) if ".old." in d or ".compact." in d]


def test_zorder_scan_pushes_filters(spark):
    from gazelle_plugin_spark.plans.layout import rel_zorder_scan

    df = rel_zorder_scan(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan, plan
    assert "l_partkey" in plan
