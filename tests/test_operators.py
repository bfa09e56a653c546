"""Unit tests for the operator surface: the helpers in
gazelle_plugin_spark.operators, and the DataFrame calls the plans use
in place of the reference's Columnar*Exec operators.

Patterned after the reference's forked Spark suites (SURVEY.md §5
layer 1): small literal DataFrames, exact expected answers, edge
cases the reference calls out (null-aware anti join three-case
semantics, ColumnarOverrides.scala:260; EXCEPT distinctness;
WindowGroupLimit rank-limit pushdown, OptimizerOverrides.scala:39-218
analog).
"""

from __future__ import annotations

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from gazelle_plugin_spark.operators import joins


def rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple((v is None, v) for v in t),
    )


# ---------------------------------------------------------------- joins

def _lr(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "d")], "k int, v string"
    )
    return left


def test_null_aware_anti_right_plain(spark):
    left = _lr(spark)
    right = spark.createDataFrame([(1,), (5,)], "rk int")
    out = joins.null_aware_anti_join(left, right, "k", "rk")
    # non-null left keys not in {1,5}; null left key dropped (NOT IN
    # with a null probe is UNKNOWN)
    assert rows(out.select("k", "v")) == [(2, "b"), (3, "c")]


def test_null_aware_anti_right_has_null(spark):
    left = _lr(spark)
    right = spark.createDataFrame([(1,), (None,)], "rk int")
    out = joins.null_aware_anti_join(left, right, "k", "rk")
    assert out.count() == 0


def test_null_aware_anti_right_empty(spark):
    left = _lr(spark)
    right = spark.createDataFrame([], "rk int")
    out = joins.null_aware_anti_join(left, right, "k", "rk")
    # empty right: NOT IN () is true for every row, null keys included
    assert out.count() == 4


def test_null_aware_anti_matches_spark_not_in(spark):
    """Cross-check against Spark's own null-aware anti planning."""
    left = _lr(spark)
    right = spark.createDataFrame([(1,), (5,)], "rk int")
    left.createOrReplaceTempView("naaj_left")
    right.createOrReplaceTempView("naaj_right")
    expected = spark.sql(
        "SELECT k, v FROM naaj_left WHERE k NOT IN (SELECT rk FROM naaj_right)"
    )
    got = joins.null_aware_anti_join(left, right, "k", "rk").select("k", "v")
    assert rows(got) == rows(expected)


def test_existence_join(spark):
    left = _lr(spark)
    right = spark.createDataFrame([(1,), (3,), (None,)], "rk int")
    out = joins.existence_join(left, right, "k", "rk")
    got = {(r["k"], r["exists"]) for r in out.collect()}
    assert got == {(1, True), (2, False), (3, True), (None, False)}


# -------------------------------------------------------------- set ops

def test_except_is_distinct(spark):
    left = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    right = spark.createDataFrame([(1,)], "x int")
    # subtract, not exceptAll().distinct(): that would keep 1 here
    assert rows(left.subtract(right)) == [(2,)]
    assert rows(left.exceptAll(right)) == [(1,), (2,)]


def test_union_intersect(spark):
    a = spark.createDataFrame([(1,), (2,), (2,)], "x int")
    b = spark.createDataFrame([(2,), (3,)], "x int")
    assert rows(a.union(b)) == [(1,), (2,), (2,), (2,), (3,)]
    assert rows(a.union(b).distinct()) == [(1,), (2,), (3,)]
    assert rows(a.intersect(b)) == [(2,)]
    assert rows(a.intersectAll(b)) == [(2,)]


# ------------------------------------------------------------ aggregates

def test_rollup_cube_grouping_sets(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], "g1 string, g2 string, v int"
    )
    aggs = [F.sum("v").alias("s")]
    assert df.rollup("g1", "g2").agg(*aggs).count() == 6
    assert df.cube("g1", "g2").agg(*aggs).count() == 8
    gs = df.groupingSets([["g1"], ["g2"]], "g1", "g2").agg(*aggs)
    assert rows(gs) == rows(
        df.groupBy("g1").agg(*aggs).withColumn("g2", F.lit(None).cast("string"))
        .select("g1", "g2", "s")
        .union(
            df.groupBy("g2").agg(*aggs)
            .withColumn("g1", F.lit(None).cast("string"))
            .select("g1", "g2", "s")
        )
    )


def test_hash_aggregate_global_and_grouped(spark):
    df = spark.createDataFrame([(1, 2.0), (1, 4.0), (2, 6.0)], "k int, x double")
    assert rows(df.agg(F.sum("x").alias("s"))) == [(12.0,)]
    assert rows(df.groupBy("k").agg(F.avg("x").alias("a"))) == [
        (1, 3.0),
        (2, 6.0),
    ]


# ------------------------------------------------------------- temporal

def test_asof_join_edges(spark):
    from gazelle_plugin_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 1, 5), (3, 1, 20), (4, 1, 20)], "id int, k int, t long"
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0)], "k int, t long, v double"
    )
    out = asof_join(left, right, "k", "t", "t", ["v"])
    got = {r.id: r.v for r in out.collect()}
    # id=1: key 10 has no right rows -> NULL; id=2: t=5 before any -> NULL
    # id=3/4: t=20 ties the right row at 20 -> 2.0 (>= semantics)
    assert got == {1: None, 2: None, 3: 2.0, 4: 2.0}


def test_asof_join_null_value_row_wins(spark):
    """A matched right row whose VALUE column is NULL must win over an
    older non-null row (true ASOF semantics, matching DuckDB: the
    struct-carry keeps the whole matched row; per-column
    last(ignorenulls) would skip it and surface the stale 1.0)."""
    from gazelle_plugin_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 1, 30)], "id int, k int, t long")
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, None)], "k int, t long, v double"
    )
    out = asof_join(left, right, "k", "t", "t", ["v"]).collect()
    assert len(out) == 1 and out[0].v is None


def test_asof_join_multi_value_cols_stay_row_consistent(spark):
    """Two value columns from the SAME right row arrive together —
    never a mix of rows (the per-column-carry hazard)."""
    from gazelle_plugin_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 1, 30)], "id int, k int, t long")
    right = spark.createDataFrame(
        [(1, 10, 1.0, "a"), (1, 20, None, "b")], "k int, t long, v double, s string"
    )
    row = asof_join(left, right, "k", "t", "t", ["v", "s"]).collect()[0]
    assert (row.v, row.s) == (None, "b")


def test_range_join_buckets_boundaries(spark):
    from gazelle_plugin_spark.operators.temporal import range_join_buckets

    left = spark.createDataFrame([(1, 1, 1000)], "id int, k int, t long")
    right = spark.createDataFrame(
        [(1, 900, "in"), (1, 1100, "in"), (1, 1101, "out_hi"),
         (1, 899, "out_lo"), (2, 1000, "other_key")],
        "k int, rt long, tag string",
    )
    out = range_join_buckets(left, right, "k", "t", "rt", max_delta=100)
    tags = sorted(r.tag for r in out.collect())
    assert tags == ["in", "in"]
    # each in-range pair appears exactly once despite bucket explosion
    assert out.count() == 2


def test_approx_aggregates_are_close_to_exact(spark):
    """rel_approx_agg emits in-bounds booleans (the hash-compared
    sketch contract): every group's HLL and approx-median must land
    inside their error bounds."""
    from gazelle_plugin_spark.plans import all_queries

    rows = all_queries()["rel_approx_agg"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.supp_ok and r.median_ok
        assert r.exact_supp > 0
        assert 1.0 <= r.exact_median_qty <= 50.0


# -------------------------------------------- exchange / sort / projection

def test_exchange_partitioning_modes(spark):
    df = spark.range(0, 1000).withColumn("k", F.pmod("id", F.lit(10)))
    h = df.repartition(8, "k")
    assert h.rdd.getNumPartitions() == 8
    # hash partitioning co-locates: every partition holds complete keys
    per_part = (
        h.withColumn("p", F.spark_partition_id())
        .groupBy("k").agg(F.countDistinct("p").alias("np")).collect()
    )
    assert all(r.np == 1 for r in per_part)
    r = df.repartitionByRange(4, "id")
    assert r.rdd.getNumPartitions() == 4
    # range partitioning keeps partitions order-disjoint
    bounds = (
        r.withColumn("p", F.spark_partition_id())
        .groupBy("p").agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("lo").collect()
    )
    for a, b in zip(bounds, bounds[1:]):
        assert a.hi < b.lo
    assert df.repartition(5).rdd.getNumPartitions() == 5
    sp = df.coalesce(1)
    assert sp.rdd.getNumPartitions() == 1
    assert sp.count() == 1000


def test_sort_limit_topk(spark):
    df = spark.range(0, 100).withColumn("v", F.pmod(F.col("id") * 37, F.lit(100)))
    top = df.orderBy(F.desc("v"), F.asc("id")).limit(5).collect()
    assert [r.v for r in top] == sorted({i * 37 % 100 for i in range(100)}, reverse=True)[:5]
    plan = df.orderBy(F.desc("v")).limit(5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert df.limit(7).count() == 7
    ordered = df.orderBy("v").collect()
    assert [r.v for r in ordered] == sorted(r.v for r in ordered)
    local = df.repartition(4, "v").sortWithinPartitions("v")
    assert "Exchange" not in local._jdf.queryExecution().executedPlan().toString().split("Sort")[0]


def test_condition_project(spark):
    df = spark.createDataFrame([(1, 2.0), (5, 3.0)], "a int, b double")
    out = df.filter(F.col("a") > 2).select((F.col("a") * 2).alias("a2"), "b")
    assert rows(out) == [(10, 3.0)]
    out2 = spark.range(100).repartition(8).coalesce(2)
    assert out2.rdd.getNumPartitions() == 2


def test_join_strategy_hints(spark):
    """The MERGE/SHUFFLE_HASH hints must actually pin the physical
    strategy (the session profile prefers hash joins, so SMJ only
    appears when hinted — StrategyOverrides.scala:39-78 analog,
    inverted)."""
    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    right = spark.range(0, 500).withColumnRenamed("id", "k")
    smj = left.join(right.hint("MERGE"), "k")
    assert "SortMergeJoin" in smj._jdf.queryExecution().executedPlan().toString()
    shj = left.join(right.hint("SHUFFLE_HASH"), "k")
    assert "ShuffledHashJoin" in shj._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------------- window

def test_window_topk_plan_has_window_group_limit(spark):
    """The declarative rank()+filter form must trigger Spark's
    WindowGroupLimit (the reference's LocalWindowExec rewrite,
    OptimizerOverrides.scala:39-218)."""
    df = spark.createDataFrame(
        [(g, i, float(i * g)) for g in (1, 2) for i in range(10)],
        "g int, i int, x double",
    )
    w = Window.partitionBy("g").orderBy(F.desc("x"))
    out = df.withColumn("rk", F.rank().over(w)).filter(F.col("rk") <= 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    got = {(r["g"], r["i"]) for r in out.collect()}
    assert got == {(1, 9), (1, 8), (1, 7), (2, 9), (2, 8), (2, 7)}


def test_window_agg_frames(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0)],
        "g int, seq int, x double",
    )
    spec = (
        Window.partitionBy("g")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("running", F.sum("x").over(spec))
    got = {(r["g"], r["seq"], r["running"]) for r in out.collect()}
    assert got == {(1, 1, 10.0), (1, 2, 30.0), (1, 3, 60.0), (2, 1, 5.0)}


def test_full_outer_join_extends_both_sides(spark):
    """FULL OUTER unhinted and through the MERGE hint: unmatched rows
    on EACH side survive null-extended (the join type the reference
    excluded from columnar SMJ, ColumnarGuardRule.scala:208)."""
    l = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
    r = spark.createDataFrame([(2, "x"), (3, "y")], "rk long, rv string")
    for hint in (None, "MERGE"):
        right = r.hint(hint) if hint else r
        got = {
            (row.k, row.lv, row.rk, row.rv)
            for row in l.join(right, l.k == r.rk, "full_outer").collect()
        }
        assert got == {
            (1, "a", None, None),
            (2, "b", 2, "x"),
            (None, None, 3, "y"),
        }, hint


def test_salted_join_matches_plain_join(spark):
    """salted_join == plain join on skewed data (one hot key carrying
    ~90% of rows), for inner and left_outer incl. unmatched keys."""
    from gazelle_plugin_spark.operators.exchange import salted_join

    left = spark.range(0, 2000).selectExpr(
        "case when id % 10 < 9 then 7 else cast(id % 100 as long) end as k",
        "id as payload",
    )
    right = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(0, 50)], "rk long, label string"
    )
    for how in ("inner", "left_outer"):
        got = sorted(
            ((r.k, r.payload, r.label) for r in
             salted_join(left, right, "k", "rk", salt=8, how=how).collect()),
            key=str,
        )
        expected = sorted(
            ((r.k, r.payload, r.label) for r in
             left.join(right, left.k == right.rk, how).collect()),
            key=str,
        )
        assert got == expected, how


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows land in multiple salt buckets (the point of
    salting: one hot KEY no longer maps to one shuffle bucket)."""
    from pyspark.sql import functions as F
    from gazelle_plugin_spark.operators.exchange import salted_join

    left = spark.range(0, 1000).selectExpr("7L as k", "id as payload")
    right = spark.createDataFrame([(7, "hot")], "rk long, label string")
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    n_buckets = left.withColumn("s", lsalt).select("s").distinct().count()
    assert n_buckets > 4  # 1000 distinct payloads spread over 8 salts
    assert salted_join(left, right, "k", "rk", salt=8).count() == 1000


def _heaviest_stage_read_records(spark, df) -> tuple[float, float]:
    """(p50, max) shuffle-read RECORDS per task of the heaviest reduce
    stage after fully evaluating df — the deterministic skew signal
    (task wall times bounce with scheduler noise at local[32]; the row
    counts each task pulls are a pure function of the partitioning)."""
    from gazelle_plugin_spark import profile

    seen: set = set()
    profile.new_stages(spark, seen)
    df.selectExpr("sum(hash(*)) as h").collect()
    _, q = profile.heaviest_read_summary(spark, profile.new_stages(spark, seen), "0.5,1.0")
    rr = q["shuffleReadMetrics"]["readRecords"]
    return rr[0], rr[1]


def test_salted_join_bounds_task_spread_where_plain_does_not(spark):
    """The measured skew posture (SCALE.md round-13 / SURVEY.md §4#6
    OptimizeSkewedJoin analog): on a 90%-hot-key fact joined to a
    non-broadcastable dim with AQE's rescue disabled (the static-plan
    regime a 100 TB job is in when thresholds miss), the PLAIN shuffle
    join funnels the whole hot key into ONE task — max task reads
    ~90% of the fact — while salted_join caps any task at roughly
    hot/salt + the replicated-dim share. Asserted on per-task
    shuffle-read records from the UI REST taskSummary."""
    from gazelle_plugin_spark.operators.exchange import salted_join

    hot = 180_000
    fact = spark.range(0, 200_000).selectExpr(
        "case when id % 10 < 9 then 7L else 8 + (id % 1000) end as k",
        "id as payload",
    )
    dim = spark.range(0, 20_000).selectExpr(
        "id as rk", "concat('dim_', id % 97) as label"
    )
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _, plain_max = _heaviest_stage_read_records(
            spark, fact.join(dim, fact.k == dim.rk, "inner")
        )
        _, salted_max = _heaviest_stage_read_records(
            spark, salted_join(fact, dim, "k", "rk", salt=16)
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # plain: the hot key's rows all land in one task
    assert plain_max >= 0.85 * hot, plain_max
    # salted: no task carries even HALF the hot key (the exact share
    # depends on how the 16 (key,salt) buckets and the replicated dim
    # hash-clump into 32 partitions — measured ~77k of the 520k total
    # reduce-side records, i.e. ~0.43x hot vs plain's 1.0x+)
    assert salted_max <= 0.5 * hot, salted_max
    assert salted_max < plain_max / 2, (salted_max, plain_max)


def test_choose_join_strategy_measured_regimes():
    """The executable skew operating rule (round-13 verdict task 5),
    pinned on the three regimes of measurements/skew_r13.jsonl's
    hot-key study plus the healthy-spread base case."""
    from gazelle_plugin_spark.operators.exchange import choose_join_strategy

    MB = 2**20
    # (a) broadcast-first: dim under the 10 MB fence — salting moot
    assert choose_join_strategy(8 * MB, 600 * MB, 0.9) == "broadcast"
    # (b) the measured salted band: the study's fixture — ~3M-row dim
    # (too big to broadcast), 90%-hot fact whose hot partition lands
    # ~90 MB, UNDER AQE's 256 MB skew threshold where OptimizeSkewedJoin
    # measurably never fires (task spread 10.5x plain vs 1.28x salted)
    assert choose_join_strategy(100 * MB, 100 * MB, 0.9) == "salted"
    # (c) AQE-second: hot partition over 256 MB — AQE splits it at
    # runtime, salting would only add 9.4x dim-replication shuffle
    assert choose_join_strategy(100 * MB, 600 * MB, 0.9) == "plain"
    # (d) healthy spread: hottest key near the even share — plain
    assert choose_join_strategy(100 * MB, 6000 * MB, 1 / 32) == "plain"
    # tiny hot partition (under the 30 MB floor): skew can't dominate
    # a stage's critical path — plain even at a 90% share
    assert choose_join_strategy(100 * MB, 20 * MB, 0.9) == "plain"
    # (e) the AQE branch needs BOTH preconditions (round-14 ADVICE):
    # a >=256 MB hot partition whose share is under skewedPartition-
    # Factor (5x) times the even share will NOT be split by AQE — a
    # 4.2x-median hot key at 330 MB routes to salted, not plain
    assert choose_join_strategy(100 * MB, 2500 * MB, 0.13) == "salted"
    # ...and uniformly-large partitions (share ~ even) stay plain via
    # the healthy-spread exit, not via a vacuous AQE promise
    assert choose_join_strategy(100 * MB, 16_000 * MB, 1 / 25) == "plain"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        choose_join_strategy(100 * MB, 100 * MB, 1.5)


def test_salted_join_query_stats_pin():
    """rel_salted_join's declared 100 TB stats must keep resolving to
    the 'salted' regime — the pin formerly lived as an assert inside
    the query path, where a retune of choose_join_strategy's constants
    would have crashed a correct query at runtime (r15 verdict item 9:
    a test is the right home)."""
    from gazelle_plugin_spark.operators.exchange import choose_join_strategy
    from gazelle_plugin_spark.plans.relational import REL_SALTED_STATS

    assert choose_join_strategy(**REL_SALTED_STATS) == "salted"


def test_skew_aware_join_dispatches_regimes(spark):
    """choose_join_strategy's live caller (round-14 verdict task 5):
    the stats decide the physical shape — broadcast stats plan a
    BroadcastHashJoin, salted stats produce the salt shape (and the
    same rows as a plain join), plain stats a shuffled join with no
    salt column."""
    from gazelle_plugin_spark.operators.exchange import skew_aware_join

    MB = 2**20
    fact = spark.range(0, 5_000).selectExpr("id % 7 as k", "id as payload")
    dim = spark.range(0, 7).selectExpr("id as rk", "concat('d', id) as label")
    expect = sorted(
        (r.k, r.payload, r.label)
        for r in fact.join(dim, fact.k == dim.rk, "inner").collect()
    )

    def rows(df):
        return sorted((r.k, r.payload, r.label) for r in df.collect())

    bcast = skew_aware_join(
        fact, dim, "k", "rk",
        dim_bytes=1 * MB, fact_bytes=600 * MB, hot_key_share=0.9,
    )
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()
    assert rows(bcast) == expect

    salted = skew_aware_join(
        fact, dim, "k", "rk",
        dim_bytes=100 * MB, fact_bytes=100 * MB, hot_key_share=0.9, salt=4,
    )
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert "__gazelle_salt" in plan  # the salt shape is in the plan
    assert rows(salted) == expect

    plain = skew_aware_join(
        fact, dim, "k", "rk",
        dim_bytes=100 * MB, fact_bytes=6000 * MB, hot_key_share=1 / 32,
    )
    assert "__gazelle_salt" not in plain._jdf.queryExecution().optimizedPlan().toString()
    assert rows(plain) == expect

    # the AQE-boundary "plain" regime (r15 verdict item 9): a 540 MB
    # hot partition over the 256 MB skew threshold AND over 5x the
    # even share — the rule defers to OptimizeSkewedJoin, so the
    # dispatched plan must carry NO salt shape despite the 90% share
    aqe_plain = skew_aware_join(
        fact, dim, "k", "rk",
        dim_bytes=100 * MB, fact_bytes=600 * MB, hot_key_share=0.9,
    )
    assert (
        "__gazelle_salt"
        not in aqe_plain._jdf.queryExecution().optimizedPlan().toString()
    )
    assert rows(aqe_plain) == expect

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how="):
        skew_aware_join(
            fact, dim, "k", "rk",
            dim_bytes=1 * MB, fact_bytes=1 * MB, hot_key_share=0.5,
            how="full_outer",
        )


def test_merge_upsert_partitions_the_keyspace(spark):
    """Merge audit invariants: keep/update/insert counts partition
    (base + inserts) exactly by the key-mod rule, and the update
    bucket's total is exactly 1.10x its base total (decimal-exact)."""
    from decimal import Decimal

    from gazelle_plugin_spark.plans import all_queries
    from tests.conftest import SF_MED

    rows = {
        r.op: r for r in all_queries()["rel_merge_upsert"](spark, SF_MED).collect()
    }
    base = spark.read.parquet(f"{SF_MED}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    n = base.count()
    n_upd = base.filter("o_orderkey % 100 < 20").count()
    n_ins = base.filter("o_orderkey % 100 >= 95").count()
    assert rows["update"].n_rows == n_upd
    assert rows["insert"].n_rows == n_ins
    assert rows["keep"].n_rows == n - n_upd
    upd_base = sum(
        Decimal(str(round(r.o_totalprice, 2)))
        for r in base.filter("o_orderkey % 100 < 20").collect()
    )
    assert rows["update"].total_price == float(upd_base * Decimal("1.10"))
    assert rows["insert"].min_status_code == ord("N")
    assert rows["update"].min_status_code == ord("U")
