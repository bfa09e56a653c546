"""Source/sink/cache verification (SURVEY.md §2.1 parity):
parquet/ORC/CSV round-trips (ArrowUtils.scala:212-218 read formats +
ArrowFileFormat write path), scan pushdown plan assertions
(ArrowFilters.scala:28-48 analog is Catalyst+parquet pushdown), and
the columnar cache (ColumnarInMemoryTableScanExec.scala:31 analog:
``DataFrame.persist``, whose CachedBatchSerializer is columnar).
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from gazelle_plugin_spark.sources.io import read, write
from gazelle_plugin_spark.catalog import table_path
from tests.conftest import SF_SMALL


@pytest.fixture()
def sample(spark):
    return (
        read(spark, table_path(SF_SMALL, "nation"))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_round_trip(spark, sample, tmp_path, fmt):
    target = str(tmp_path / f"rt.{fmt}")
    write(sample, target, fmt=fmt)
    schema = "n_nationkey bigint, n_name string, n_regionkey int" if fmt in ("csv", "json") else None
    back = read(spark, target, fmt=fmt, schema=schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


def test_partitioned_write_prunes(spark, sample, tmp_path):
    target = str(tmp_path / "part.parquet")
    write(sample, target, partition_by=["n_regionkey"])
    back = read(spark, target).filter(F.col("n_regionkey") == 2)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter must land in the scan, not a post-filter
    assert "PartitionFilters: [isnotnull(n_regionkey" in plan, plan
    assert back.count() == sample.filter("n_regionkey = 2").count()


def test_filter_pushdown_reaches_scan(spark):
    df = read(spark, table_path(SF_SMALL, "lineitem")).filter(
        F.col("l_quantity") < 5
    ).select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)" in plan, plan


def test_column_pruning_reaches_scan(spark):
    df = read(spark, table_path(SF_SMALL, "lineitem")).select("l_orderkey", "l_tax")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_tax:double>" in plan, plan


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed on the join key into the same bucket count
    -> the join plans with ZERO Exchange (the co-located-join lever,
    SCALE.md item 2)."""
    from gazelle_plugin_spark.sources.bucketing import read_bucketed, write_bucketed

    li = read(spark, table_path(SF_SMALL, "lineitem")).select(
        "l_orderkey", "l_quantity"
    )
    o = read(spark, table_path(SF_SMALL, "orders")).select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    write_bucketed(o, "b_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    bl, bo = read_bucketed(spark, "b_lineitem"), read_bucketed(spark, "b_orders")
    joined = bl.join(
        bo.hint("MERGE"), bl.l_orderkey == bo.o_orderkey
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert joined.count() == li.count()


def test_bucketed_aggregation_has_no_exchange(spark):
    """A groupBy on the bucket key also reuses the at-rest
    partitioning — no exchange before the aggregate."""
    from gazelle_plugin_spark.sources.bucketing import read_bucketed, write_bucketed

    li = read(spark, table_path(SF_SMALL, "lineitem")).select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(li, "b_li_agg", ["l_orderkey"], 4)
    agg = read_bucketed(spark, "b_li_agg").groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q")
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert agg.count() == li.select("l_orderkey").distinct().count()


def test_columnar_cache_round_trip(spark, sample):
    cached = sample.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        first = cached.count()
        plan = cached._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert cached.count() == first == 25
    finally:
        cached.unpersist()


def test_arrow_ipc_round_trip(spark, tmp_path):
    """Distributed Arrow IPC write -> read round trip (the reference's
    Arrow Dataset source analog): values, schema, and multi-file
    parallelism (one IPC file per non-empty partition, decoded
    executor-side)."""
    import glob

    from gazelle_plugin_spark.sources.io import read_arrow_ipc, write_arrow_ipc

    df = (
        read(spark, table_path(SF_SMALL, "nation"))
        .select("n_nationkey", "n_name", "n_regionkey")
        .repartition(4)
    )
    path = str(tmp_path / "nation_ipc")
    n = write_arrow_ipc(df, path)
    assert n == 25
    assert len(glob.glob(path + "/part-*.arrow")) >= 2  # parallel files
    back = read_arrow_ipc(spark, path)
    assert dict(back.dtypes) == dict(df.dtypes)
    got = sorted(tuple(r) for r in back.collect())
    expected = sorted(tuple(r) for r in df.collect())
    assert got == expected


def test_arrow_ipc_reader_ignores_orphan_tmp(spark, tmp_path):
    """Retry/speculation safety: a crashed first attempt leaves a
    dot-prefixed .tmp orphan; the reader's *.arrow glob (and Spark's
    hidden-file convention) must skip it — including for the
    smallest-file schema probe, which a truncated orphan would
    otherwise win."""
    from gazelle_plugin_spark.sources.io import read_arrow_ipc, write_arrow_ipc

    df = read(spark, table_path(SF_SMALL, "nation")).select(
        "n_nationkey", "n_name"
    )
    path = tmp_path / "ipc_orphan"
    n = write_arrow_ipc(df, str(path))
    # simulate a killed attempt: tiny truncated temp file left behind
    (path / ".part-00000.99.tmp").write_bytes(b"ARROW1\x00")
    back = read_arrow_ipc(spark, str(path))
    assert back.count() == n == 25


def test_csv_permissive_corrupt_records(spark, tmp_path):
    """Ingestion robustness: PERMISSIVE mode lands malformed CSV rows
    in _corrupt_record instead of failing the 100 TB job; DROPMALFORMED
    removes them; FAILFAST raises. The schema-first discipline the
    engine's type matrix (SURVEY §1.2) requires."""
    import pytest as _pytest

    p = tmp_path / "messy.csv"
    p.write_text("id,qty\n1,10\n2,not_a_number\n3,30\n")
    schema = "id int, qty int, _corrupt_record string"
    ok = read(
        spark, str(p), fmt="csv", schema=schema, mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    rows = {r.id: (r.qty, r._corrupt_record) for r in ok.collect()}
    assert rows[1] == (10, None) and rows[3] == (30, None)
    assert rows[2][0] is None and "not_a_number" in rows[2][1]
    dropped = read(spark, str(p), fmt="csv", schema="id int, qty int", mode="DROPMALFORMED")
    assert {r.id for r in dropped.collect()} == {1, 3}
    with _pytest.raises(Exception, match="(?i)malformed|failfast"):
        read(spark, str(p), fmt="csv", schema="id int, qty int", mode="FAILFAST").collect()


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """DPP (reference §4#3: Gazelle preserved Spark's dynamic partition
    pruning across its columnar swaps; here it's native): joining a
    partitioned fact to a FILTERED dim on the partition column must
    inject a dynamicpruning subquery into the fact's partition filters
    — only matching partitions are scanned."""
    fact_dir = str(tmp_path / "fact_part")
    read(spark, table_path(SF_SMALL, "lineitem")).write.partitionBy(
        "l_returnflag"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], "flag string, tag string"
    ).filter(F.col("tag") == "keep")
    j = fact.join(dim.hint("BROADCAST"), fact.l_returnflag == dim.flag)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only touches the kept partition
    assert j.select("l_returnflag").distinct().collect()[0].l_returnflag == "A"


def test_nested_types_round_trip(spark, tmp_path):
    """struct / array / map / array<array<string>> columns round-trip
    through parquet AND orc with exact schema and values (reference
    ArrowDataSourceTest.scala:358,369,380 — '(parquet|orc) reader on
    data type: struct, array, map' and the nested string-array
    schema)."""
    df = spark.sql(
        """
        SELECT id,
               named_struct('a', id, 'b', cast(id as string)) AS s,
               array(id, id + 1, id + 2) AS arr,
               map(cast(id as string), id) AS m,
               array(array(cast(id as string)), array('x')) AS aas
        FROM range(10)
        """
    )
    for fmt in ("parquet", "orc"):
        target = str(tmp_path / f"nested_{fmt}")
        write(df, target, fmt=fmt)
        back = read(spark, target, fmt=fmt)
        # names+types exact; nullability excluded (file formats read
        # back nullable — standard Spark behavior for both engines)
        assert back.schema.simpleString() == df.schema.simpleString(), fmt
        assert sorted(map(repr, back.collect())) == sorted(
            map(repr, df.collect())
        ), fmt


def test_csv_tab_separated(spark, tmp_path):
    """Tab-separated CSV via the sep option (reference
    ArrowDataSourceTest.scala:465 'read csv file 3 - tab separated')."""
    p = tmp_path / "people.tsv"
    p.write_text("name\tage\nalice\t1\nbob\t2\n")
    df = read(spark, str(p), fmt="csv", sep="\t", schema="name string, age int")
    assert [(r.name, r.age) for r in df.orderBy("age").collect()] == [
        ("alice", 1),
        ("bob", 2),
    ]


def test_parquet_schema_merge(spark, tmp_path):
    """mergeSchema unions column sets across files written with
    different schemas (reference ArrowDataSourceTest.scala:483 'Test
    schema merge on arrow datasource')."""
    base = str(tmp_path / "merged")
    spark.range(3).select(F.col("id").alias("a")).write.parquet(base + "/p=1")
    spark.range(3).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    ).write.parquet(base + "/p=2")
    got = read(spark, base, mergeSchema="true")
    assert {"a", "b", "p"} <= set(got.columns)
    assert got.filter("p = 1").filter("b IS NOT NULL").count() == 0  # backfilled
    assert got.filter("p = 2").filter("b IS NULL").count() == 0
    assert got.count() == 6


def test_case_insensitive_column_resolution(spark, tmp_path):
    """Read-back column resolution is case-insensitive under Spark's
    default caseSensitive=false (reference
    ArrowDataSourceTest.scala:287 'read and write with case sensitive
    or insensitive')."""
    target = str(tmp_path / "cased")
    spark.range(4).select(F.col("id").alias("Value")).write.parquet(target)
    got = read(spark, target).select("vAlUe")
    assert got.count() == 4
    assert got.columns == ["vAlUe"]
