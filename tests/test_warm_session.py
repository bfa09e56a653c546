"""A warm session repeats no per-session work.

Gazelle compiles each fused pipeline once and reads with known schemas
(SURVEY.md §1.2, §2.11). The Spark analogs: the profile's
generated-class cache holds the working set, so a repeated query
compiles nothing, and ``catalog.read_parquet`` passes the schema it
inferred on the session's first read, so a repeated builder starts no
Spark job.
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

from gazelle_plugin_spark import catalog
from gazelle_plugin_spark.plans import all_queries
from gazelle_plugin_spark.session import ENGINE_CONFS
from tests.conftest import SF_MED, SF_SMALL

CACHE = "spark.sql.codegen.cache.maxEntries"


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it started), counted over a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_session_repeats_no_per_session_work(spark):
    assert spark.conf.get(CACHE) == ENGINE_CONFS[CACHE]
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = all_queries()
    for name in ("q7", "ssb4_1"):
        queries[name](spark, SF_MED).collect()  # first run: infer and compile
        before = compiles.getCount()
        df, build_jobs = _jobs(spark, f"warm:{name}", lambda: queries[name](spark, SF_MED))
        df.collect()
        assert build_jobs == 0, name
        assert compiles.getCount() - before == 0, name

    # the memo is per session: a new one infers again
    path = catalog.table_path(SF_MED, "lineitem")
    _, warm = _jobs(spark, "warm:read", lambda: catalog.read_parquet(spark, path))
    _, fresh = _jobs(spark, "fresh:read", lambda: catalog.read_parquet(spark.newSession(), path))
    assert (warm, fresh > 0) == (0, True)

    # the tripwire reads footers, never the memo: a poisoned memo is used
    # by read_parquet and ignored by assert_testdata_schema
    poisoned = spark.newSession()
    bogus = StructType([StructField("bogus", StringType())])
    catalog._SCHEMAS[poisoned] = {
        catalog.table_path(SF_SMALL, n): bogus for n in catalog.EXPECTED_SCHEMA
    }
    region = catalog.table_path(SF_SMALL, "region")
    assert catalog.read_parquet(poisoned, region).columns == ["bogus"]
    catalog.assert_testdata_schema(poisoned, SF_SMALL)


def _final_plan(df) -> str:
    """``df``'s executed plan after a collect; under AQE, the final plan."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_star_builders_skip_range_sort_and_second_scan(spark):
    """Bounded results sort in one task (plans/_util.sort_small), so
    their executed plans hold no range exchange (no sampling job, no
    range shuffle); q18 keeps its IN-subquery's per-order sum, so it
    scans lineitem once."""
    queries = all_queries()
    for name in ("q7", "ssb4_1", "q18"):
        df = queries[name](spark, SF_MED)
        df.collect()
        plan = _final_plan(df)
        assert "rangepartitioning" not in plan, (name, plan)
    assert plan.count("lineitem.parquet]") == 1, plan


def test_bucketed_mirror_registers_without_jobs(spark):
    """The bucketed mirror is written once per checkout: a session that
    finds its files on disk registers the tables and starts no job."""
    from gazelle_plugin_spark.plans.relational import bkt_colocated_join

    want = sorted(bkt_colocated_join(spark, SF_SMALL).collect())
    for table in spark.catalog.listTables("bktdb"):
        if not table.isTemporary:  # the session's temp views list here too
            spark.sql(f"DROP TABLE bktdb.{table.name}")  # external: the files stay
    df, jobs = _jobs(spark, "bkt:register", lambda: bkt_colocated_join(spark, SF_SMALL))
    assert jobs == 0
    assert sorted(df.collect()) == want
    assert "Bucketed: true" in df._jdf.queryExecution().executedPlan().toString()


def test_zorder_mirror_reads_without_jobs(spark):
    """The z-order mirror is read with lineitem's memoized schema: a
    session that has read lineitem, with the mirror on disk, builds
    rel_zorder_scan without a Spark job and gets the same rows."""
    from gazelle_plugin_spark.plans._util import t
    from gazelle_plugin_spark.plans.layout import rel_zorder_scan

    warm = rel_zorder_scan(spark, SF_SMALL)  # writes the mirror if absent
    fresh = spark.newSession()
    t(fresh, SF_SMALL, "lineitem")
    df, jobs = _jobs(fresh, "zorder:read", lambda: rel_zorder_scan(fresh, SF_SMALL))
    assert jobs == 0
    assert sorted(df.collect()) == sorted(warm.collect())
    # the premise: the schema Spark infers from the mirror's files is lineitem's
    assert spark.read.parquet(*df.inputFiles()).schema == t(spark, SF_SMALL, "lineitem").schema
