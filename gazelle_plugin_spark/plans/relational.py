"""Relational operator queries: set operations, grouping-set
expansion, join variants, and the aggregate-function sweep.

These exercise the DataFrame API (and ``operators/joins.py``) against
DuckDB oracles: set-ops (ColumnarUnionExec,
ColumnarBasicPhysicalOperators.scala:296 + Spark's lowering of
INTERSECT/EXCEPT to semi/anti joins), rollup/cube/grouping sets
(ColumnarExpandExec.scala:37), null-aware anti join
(ColumnarOverrides.scala:260 ``nullAware``), existence join
(ColumnarSortMergeJoinExec.scala:208-213), explicit SMJ/SHJ strategy
selection (StrategyOverrides.scala:39-78), cross join (row-fallback in
the reference, docs/operators.md:22-23), and the full aggregate action
set incl. min/max/stddev/min_by (actions_impl.cc factories).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gazelle_plugin_spark.operators import joins
from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import (
    SQL_DISC_PRICE,
    dec,
    disc_price,
    materialize_once,
    sql_dsum,
    t,
)


@query(
    "rel_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def rel_rollup(spark, sf_dir):
    """ROLLUP (flag, status) with grouping_id — the Expand+Aggregate
    lowering (ColumnarExpandExec parity)."""
    li = t(spark, sf_dir, "lineitem")
    out = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(disc_price()).cast("double").alias("revenue"),
    )
    return out.select(
        "l_returnflag", "l_linestatus", "gid", "n", "revenue"
    ).orderBy("gid", "l_returnflag", "l_linestatus")


@query(
    "rel_cube",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY gid, o_orderpriority, o_orderstatus
""",
)
def rel_cube(spark, sf_dir):
    """CUBE (priority, status) — all four grouping combinations."""
    o = t(spark, sf_dir, "orders")
    out = o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("total"),
    )
    return out.select(
        "o_orderpriority", "o_orderstatus", "gid", "n", "total"
    ).orderBy("gid", "o_orderpriority", "o_orderstatus")


@query(
    "rel_grouping_sets",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum("CAST(l_quantity AS DECIMAL(12,2))")} AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def rel_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((flag), (status))."""
    li = t(spark, sf_dir, "lineitem")
    out = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("qty"),
    )
    return out.orderBy(
        F.col("l_returnflag").asc_nulls_first(),
        F.col("l_linestatus").asc_nulls_first(),
    )


def _cust_nations(spark, sf_dir):
    return t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))


def _supp_nations(spark, sf_dir):
    return t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))


@query(
    "rel_union_all",
    oracle="""
SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION ALL
  SELECT s_nationkey AS nk FROM supplier
) GROUP BY nk ORDER BY nk
""",
)
def rel_union_all(spark, sf_dir):
    """UNION ALL (ColumnarUnionExec parity: pure concatenation, no
    shuffle) + count per key."""
    u = _cust_nations(spark, sf_dir).union(_supp_nations(spark, sf_dir))
    return u.groupBy("nk").agg(F.count(F.lit(1)).alias("n")).orderBy("nk")


@query(
    "rel_union_distinct",
    oracle="""
SELECT c_nationkey AS nk FROM customer
UNION
SELECT s_nationkey AS nk FROM supplier
ORDER BY nk
""",
)
def rel_union_distinct(spark, sf_dir):
    return (
        _cust_nations(spark, sf_dir)
        .union(_supp_nations(spark, sf_dir))
        .distinct()
        .orderBy("nk")
    )


@query(
    "rel_intersect",
    oracle="""
SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < 0
INTERSECT
SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal < 0
ORDER BY nk
""",
)
def rel_intersect(spark, sf_dir):
    """INTERSECT DISTINCT — Spark lowers to left-semi join + dedup,
    hitting the same join machinery as the reference."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    s = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        c.select(F.col("c_nationkey").alias("nk"))
        .intersect(s.select(F.col("s_nationkey").alias("nk")))
        .orderBy("nk")
    )


@query(
    "rel_except",
    oracle="""
SELECT c_nationkey AS nk FROM customer
EXCEPT
SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal < 0
ORDER BY nk
""",
)
def rel_except(spark, sf_dir):
    """EXCEPT DISTINCT (left-anti + dedup lowering): ``subtract``, not
    ``exceptAll().distinct()``, which keeps x for left=[x,x], right=[x]."""
    c = _cust_nations(spark, sf_dir)
    s = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_nationkey").alias("nk")
    )
    return c.subtract(s).orderBy("nk")


@query(
    "rel_intersect_all",
    oracle="""
SELECT c_nationkey AS nk FROM customer WHERE c_custkey < 100
INTERSECT ALL
SELECT s_nationkey AS nk FROM supplier
ORDER BY nk
""",
)
def rel_intersect_all(spark, sf_dir):
    """INTERSECT ALL — multiplicity-preserving (min of the two
    bag counts)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100).select(
        F.col("c_nationkey").alias("nk")
    )
    return c.intersectAll(_supp_nations(spark, sf_dir)).orderBy("nk")


@query(
    "rel_except_all",
    oracle="""
SELECT c_nationkey AS nk FROM customer WHERE c_custkey < 100
EXCEPT ALL
SELECT s_nationkey AS nk FROM supplier WHERE s_suppkey < 50
ORDER BY nk
""",
)
def rel_except_all(spark, sf_dir):
    """EXCEPT ALL — multiplicity-preserving (left count minus right
    count). Both sides are bounded by key: against every supplier the
    right bag outnumbers the left on each nation key at sf0.1 and the
    result is empty."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100).select(
        F.col("c_nationkey").alias("nk")
    )
    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 50).select(
        F.col("s_nationkey").alias("nk")
    )
    return c.exceptAll(s).orderBy("nk")


@query(
    "rel_not_in_nullable",
    oracle="""
SELECT c_custkey, c_nationkey
FROM customer
WHERE c_custkey < 500
  AND NULLIF(c_nationkey, 5) NOT IN
      (SELECT s_nationkey FROM supplier WHERE s_acctbal < -500)
ORDER BY c_custkey
""",
)
def rel_not_in_nullable(spark, sf_dir):
    """Null-aware anti join with a NULLABLE probe key (NULLIF makes
    nationkey 5 NULL): NOT IN drops NULL probes — the three-case
    semantics the reference flags with ``nullAware``
    (ColumnarOverrides.scala:260); edge cases in
    tests/test_operators.py."""
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .withColumn("probe_nk", F.nullif(F.col("c_nationkey"), F.lit(5)))
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < -500)
    out = joins.null_aware_anti_join(c, bad, "probe_nk", "s_nationkey")
    return out.select("c_custkey", "c_nationkey").orderBy("c_custkey")


@query(
    "rel_exists_flag",
    oracle="""
SELECT has_urgent, CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
FROM (
  SELECT c_custkey, c_acctbal,
         (EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
          OR c_acctbal > 9000) AS has_urgent
  FROM customer
)
GROUP BY has_urgent ORDER BY has_urgent
""",
)
def rel_exists_flag(spark, sf_dir):
    """Existence join: EXISTS inside a disjunction — the planner can't
    use a semi join, so it marks each row with a boolean
    (ColumnarSortMergeJoinExec ExistenceJoin parity via the
    existence_join operator)."""
    c = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    marked = joins.existence_join(c, urgent, "c_custkey", "o_custkey", flag="ex")
    return (
        marked.withColumn("has_urgent", F.col("ex") | (F.col("c_acctbal") > 9000))
        .groupBy("has_urgent")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(dec("c_acctbal")).cast("double").alias("bal"),
        )
        .orderBy("has_urgent")
    )


@query(
    "rel_smj",
    oracle=f"""
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_supp,
       {sql_dsum("CAST(s_acctbal AS DECIMAL(12,2))")} AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
)
def rel_smj(spark, sf_dir):
    """Sort-merge join pinned via the MERGE hint
    (ColumnarSortMergeJoinExec parity; plan asserted in
    tests/test_operators.py). SMJ is the scale fallback when neither
    side is hash-buildable."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    j = s.join(n.hint("MERGE"), s.s_nationkey == n.n_nationkey)
    return (
        j.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(dec("s_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("n_name")
    )


@query(
    "rel_shj",
    oracle="""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > 5000
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def rel_shj(spark, sf_dir):
    """Shuffled-hash join pinned via the SHUFFLE_HASH hint
    (ColumnarShuffledHashJoinExec parity — the reference's
    StrategyOverrides forces SHJ over SMJ exactly like this)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    j = o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
    return j.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).orderBy(
        "o_orderstatus"
    )


@query(
    "rel_full_outer",
    oracle="""
SELECT COALESCE(c.nk, s.nk2) AS nk, c_cnt, s_cnt
FROM (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS c_cnt
      FROM customer WHERE c_acctbal < -900 GROUP BY 1) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nk2, CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
ON c.nk = s.nk2
ORDER BY nk
""",
)
def rel_full_outer(spark, sf_dir):
    """FULL OUTER sort-merge join — the one equi-join type the
    reference EXCLUDED from columnar execution
    (ColumnarGuardRule.scala:208 guards SMJ FullOuter back to row
    execution; Spark's SMJ supports it natively). Per-nation
    deep-debtor customers vs rich suppliers: the acctbal filters leave
    each side covering a partial, different nation set, so both
    null-extension directions are exercised (and the local non-vacuity
    gate keeps them non-empty)."""
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < -900)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    j = c.join(s.hint("MERGE"), c.nk == s.nk2, "full_outer")
    return j.select(
        F.coalesce("nk", "nk2").alias("nk"), "c_cnt", "s_cnt"
    ).orderBy("nk")


@query(
    "rel_cross_join",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
WHERE n.n_nationkey % 5 = r.r_regionkey
ORDER BY r_name, n_name
""",
)
def rel_cross_join(spark, sf_dir):
    """Cross join of two bounded dims + residual filter — the
    reference leaves CartesianProduct row-based
    (docs/operators.md:22-23); here it's a 5x25 BNLJ, safe because
    both sides are bounded."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    out = r.crossJoin(n).filter(F.pmod(n.n_nationkey, F.lit(5)) == r.r_regionkey)
    return out.select("r_name", "n_name").orderBy("r_name", "n_name")


@query(
    "rel_collect",
    oracle="""
SELECT l_returnflag,
       array_to_string(list_sort(list_distinct(array_agg(l_linestatus))), ',')
         AS statuses,
       CAST(len(list_distinct(array_agg(l_linestatus))) AS INT) AS n_statuses
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def rel_collect(spark, sf_dir):
    """collect_set / collect_list — row-fallback in the reference
    (no actions in actions_impl.cc; SURVEY.md §2.4), built-in here.
    Emitted as a sorted joined string: raw array columns hash
    differently across engines' pandas conversions."""
    li = t(spark, sf_dir, "lineitem")
    statuses = F.array_sort(F.collect_set("l_linestatus"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(statuses, ",").alias("statuses"),
            F.size(statuses).alias("n_statuses"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "rel_percentile",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty,
       quantile_cont(l_extendedprice, 0.25) AS p25_price
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def rel_percentile(spark, sf_dir):
    """Exact interpolated percentiles — no native action in the
    reference (SURVEY.md §2.4 'percentiles ... none have actions');
    Spark's percentile and DuckDB's quantile_cont share the linear
    interpolation definition and match bit-for-bit."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("p50_qty"),
            F.percentile("l_quantity", 0.9).alias("p90_qty"),
            F.percentile("l_extendedprice", 0.25).alias("p25_price"),
        )
        .orderBy("l_returnflag")
    )


#: The 100 TB posture rel_salted_join demonstrates: a 100 MB dim (over
#: the broadcast fence) and a 180 MB hot partition (600 MB fact x 0.3
#: share — under AQE's 256 MB split threshold, so OptimizeSkewedJoin
#: never fires). choose_join_strategy resolves these to "salted";
#: tests/test_operators.py pins that regime against this constant.
REL_SALTED_STATS = {
    "dim_bytes": 100 * 2**20,
    "fact_bytes": 600 * 2**20,
    "hot_key_share": 0.3,
}


@query(
    "rel_salted_join",
    oracle="""
SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
FROM customer JOIN supplier ON c_nationkey = s_nationkey
WHERE c_custkey < 200
GROUP BY c_nationkey ORDER BY nk
""",
)
def rel_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (operators/exchange.salted_join):
    nationkey is a 25-value key — the classic hot-key shape at scale —
    so the probe side is salted deterministically (xxhash64, no rand)
    and the build side explode-replicated. The oracle is the PLAIN
    join: salting must be result-invariant (also equality-tested on
    90%-hot-key data in tests/test_operators.py).

    Routed through skew_aware_join (round-14 verdict task 5): the
    stats below encode the 100 TB posture this query demonstrates — a
    100 MB dim (over the broadcast fence) and a 180 MB hot partition
    (600 MB fact x 0.3 share: under AQE's 256 MB split threshold, so
    OptimizeSkewedJoin never fires) — which choose_join_strategy
    resolves to "salted"; the dispatched physical plan is identical
    to the former direct salted_join(salt=4) call."""
    from gazelle_plugin_spark.operators.exchange import skew_aware_join

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    s = t(spark, sf_dir, "supplier")
    # the regime these stats encode is pinned IN TESTS (tests/
    # test_operators.py::test_salted_join_query_stats_pin), not here:
    # a query-path assert would turn a future retune of
    # choose_join_strategy's constants into a runtime crash of a
    # correct query (r15 verdict item 9). REL_SALTED_STATS is shared
    # with that test so the pin can never drift from the query.
    j = skew_aware_join(
        c, s, "c_nationkey", "s_nationkey", salt=4, **REL_SALTED_STATS
    )
    return (
        j.groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(dec("s_acctbal")).cast("double").alias("bal"),
        )
        .orderBy("nk")
    )


@query(
    "rel_approx_agg",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supp,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS exact_median_qty,
       TRUE AS supp_ok,
       TRUE AS median_ok
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def rel_approx_agg(spark, sf_dir):
    """approx_count_distinct (HLL) + percentile_approx — 'free
    coverage' beyond the reference (SURVEY.md §2.4: no native actions,
    row fallback there). Sketch VALUES are engine-specific, so the
    hash-comparable contract is: emit the exact aggregates plus
    booleans asserting the sketch landed inside its error bound
    (HLL default rsd 0.05 -> 3x margin; approx median within 1 unit
    of the interpolated exact median). DuckDB's oracle emits the same
    exact values and literal TRUE — a sketch outside bounds flips the
    boolean and fails the hash compare (round-5 verdict item 6)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_suppkey").alias("approx_supp"),
            F.percentile_approx("l_quantity", 0.5).alias("approx_median_qty"),
            F.countDistinct("l_suppkey").alias("exact_supp"),
            F.expr("percentile(l_quantity, 0.5)").alias("exact_median_raw"),
        )
        .select(
            "l_returnflag",
            "exact_supp",
            F.round("exact_median_raw", 6).alias("exact_median_qty"),
            (
                F.abs(F.col("approx_supp") - F.col("exact_supp"))
                <= 0.15 * F.col("exact_supp")
            ).alias("supp_ok"),
            (
                F.abs(F.col("approx_median_qty") - F.col("exact_median_raw"))
                <= F.lit(1.0)
            ).alias("median_ok"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "rel_agg_stats",
    oracle="""
SELECT l_returnflag,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
       arg_min(l_suppkey, l_orderkey * 16 + l_linenumber) AS first_supp
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def rel_agg_stats(spark, sf_dir):
    """Aggregate action sweep: min/max/stddev_samp/count-distinct +
    a DETERMINISTIC first (min_by on a unique ordinal — Spark's
    ``first`` is order-dependent, the reference's FirstPartial/Final
    actions had the same hazard). stddev rounded: Welford vs naive
    last-ulp."""
    li = t(spark, sf_dir, "lineitem")
    ordinal = F.col("l_orderkey") * 16 + F.col("l_linenumber")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.min_by("l_suppkey", ordinal).alias("first_supp"),
        )
        .orderBy("l_returnflag")
    )


#: Fixed pivot column domain — explicit values keep the output schema
#: static (a discovery pivot would scan once just to learn the
#: columns, and its schema would drift with the data).
MKT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@query(
    "rel_pivot",
    oracle=f"""
SELECT n_name,
       {", ".join(
         f"CAST(COALESCE(SUM(CASE WHEN c_mktsegment = '{s}' "
         f"THEN 1 END), 0) AS BIGINT) AS {s.lower()}"
         for s in MKT_SEGMENTS)}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)
def rel_pivot(spark, sf_dir):
    """PIVOT: per-nation customer counts spread across market-segment
    columns via the real ``.pivot()`` relational operator (not a
    hand-rolled CASE bundle — Catalyst rewrites it into exactly that
    conditional-aggregate form, asserted equivalent by the oracle's
    explicit CASE formulation). The value list is EXPLICIT, so the
    plan is a single aggregate pass — no discovery scan — and the
    output schema cannot drift with the data."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    pivoted = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", list(MKT_SEGMENTS))
        .agg(F.count(F.lit(1)))
    )
    renamed = pivoted.select(
        "n_name",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s.lower())
            for s in MKT_SEGMENTS
        ],
    )
    return renamed.orderBy("n_name")


@query(
    "rel_unpivot",
    oracle="""
SELECT n_name, metric, val
FROM (
  SELECT n_name,
         CAST(COUNT(*) AS DOUBLE) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
         CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
) UNPIVOT (val FOR metric IN (n_cust, total_bal, max_bal))
ORDER BY n_name, metric
""",
)
def rel_unpivot(spark, sf_dir):
    """UNPIVOT/melt: wide per-nation aggregates back to long
    (nation, metric, value) form via the real ``.unpivot()`` operator
    (Spark 3.4+; Catalyst expands it to the same Expand node the
    reference implements for rollups). Metrics are pre-cast to one
    common DOUBLE type — unpivot requires a least-common value type,
    and the decimal-exact sum keeps the doubles engine-identical."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_cust"),
            F.sum(dec("c_acctbal")).cast("double").alias("total_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_cust", "total_bal", "max_bal"], "metric", "val"
    ).orderBy("n_name", "metric")


@query(
    "rel_semi_anti",
    oracle="""
SELECT n_name,
       CAST(COUNT(*) FILTER (WHERE kind = 's') AS BIGINT) AS n_semi,
       CAST(COUNT(*) FILTER (WHERE kind = 'a') AS BIGINT) AS n_anti
FROM (
  SELECT 's' AS kind, c_nationkey FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  UNION ALL
  SELECT 'a' AS kind, c_nationkey FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
)
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)
def rel_semi_anti(spark, sf_dir):
    """Explicit ``left_semi`` / ``left_anti`` join API (the DataFrame
    surface over the EXISTS / NOT EXISTS plans the TPC-H queries reach
    via subqueries): customers with/without a >400k order, counted per
    nation. Semi and anti scan the same filtered build side; their
    union partitions the customer set exactly (semi + anti = all),
    which the oracle's EXISTS/NOT EXISTS formulation mirrors."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("s").alias("kind"), "c_nationkey"
    )
    anti = c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        F.lit("a").alias("kind"), "c_nationkey"
    )
    both = semi.union(anti).join(
        F.broadcast(n), F.col("c_nationkey") == n.n_nationkey
    )
    return (
        both.groupBy("n_name")
        .agg(
            F.count(F.when(F.col("kind") == "s", 1)).alias("n_semi"),
            F.count(F.when(F.col("kind") == "a", 1)).alias("n_anti"),
        )
        .orderBy("n_name")
    )


@query(
    "rel_window_cntd",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey,
       CAST(COUNT(DISTINCT l_partkey) OVER (
         PARTITION BY l_orderkey
         ORDER BY l_linenumber, l_partkey, l_suppkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS parts_so_far,
       CAST(COUNT(DISTINCT l_partkey) OVER (PARTITION BY l_orderkey)
         AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
         AS BIGINT) AS n_supp
FROM lineitem
WHERE l_orderkey < 1000
ORDER BY l_orderkey, l_linenumber
""",
)
def rel_window_cntd(spark, sf_dir):
    """COUNT(DISTINCT) OVER a window — an operator Spark SQL does NOT
    support natively (DISTINCT aggregates are rejected in window
    frames) — re-expressed as the first-occurrence-flag rewrite:
    ``row_number() == 1`` per (partition, value) marks each value's
    first row, and summing the flags over the target frame yields the
    distinct count, both as a whole-partition total and as a running
    count along the order. The oracle uses DuckDB's NATIVE distinct
    window aggregate, proving the rewrite exactly.

    Scale shape: one exchange on l_orderkey serves all four windows
    (the per-(order, part) / per-(order, supp) row_numbers and the
    order-wide sums share the partition key, so Catalyst plans one
    shuffle + in-partition sorts). Detail rows keep their grain — the
    use case is annotating a fact with deduplicated context without
    collapsing it. The l_orderkey < 1000 filter pushes into the scan
    and bounds the compared output; the rewrite itself is
    corpus-scale (nothing references the filter).

    Determinism note: the synthetic l_linenumber is NOT unique within
    an order, so a strictly-unique per-row position (row_number over
    the full sort key) anchors every window: the first-occurrence
    flag is ``pos == min(pos) per (order, value)``, guaranteeing the
    flag lands at the FIRST position of the running enumeration even
    for byte-identical duplicate rows — exactly DuckDB's
    include-current-row distinct semantics. Rows still tied on the
    full key are interchangeable, so the output multiset is
    order-free.
    """
    from pyspark.sql import Window

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    )
    by_order = Window.partitionBy("l_orderkey")

    order_key = ("l_linenumber", "l_partkey", "l_suppkey")
    pos = F.row_number().over(by_order.orderBy(*order_key))
    with_pos = li.withColumn("pos", pos)

    def first_flag(col):
        w = Window.partitionBy("l_orderkey", col)
        return (F.col("pos") == F.min("pos").over(w)).cast("int")

    flagged = with_pos.withColumn("fp", first_flag("l_partkey")).withColumn(
        "fs", first_flag("l_suppkey")
    )
    running = by_order.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        flagged.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.sum("fp").over(running).cast("long").alias("parts_so_far"),
            F.sum("fp").over(by_order).cast("long").alias("n_parts"),
            F.sum("fs").over(by_order).cast("long").alias("n_supp"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "rel_merge_upsert",
    oracle="""
WITH delta AS (
  SELECT o_orderkey AS d_key,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(3,2))
              AS DECIMAL(18,4)) AS d_price,
         'U' AS d_status
  FROM orders WHERE o_orderkey % 100 < 20
  UNION ALL
  SELECT o_orderkey + 10000000,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,4)), 'N'
  FROM orders WHERE o_orderkey % 100 >= 95
),
m AS (
  SELECT CASE WHEN d.d_key IS NULL THEN 'keep'
              WHEN b.o_orderkey IS NULL THEN 'insert'
              ELSE 'update' END AS op,
         COALESCE(d.d_price,
                  CAST(CAST(b.o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,4)))
           AS price,
         COALESCE(d.d_status, b.o_orderstatus) AS status
  FROM orders b FULL OUTER JOIN delta d ON b.o_orderkey = d.d_key
)
SELECT op, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price) AS DOUBLE) AS total_price,
       CAST(MIN(ascii(status)) AS INT) AS min_status_code
FROM m GROUP BY op ORDER BY op
""",
)
def rel_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics without a table format (SCD-1 snapshot
    merge): a change set of updates (+10% reprice, status 'U') and
    inserts (fresh keys, status 'N') full-outer-joins the base on the
    key; latest-wins column coalescing classifies every output row as
    keep / update / insert and the audit sums prove the merged values. The status audit folds to
    MIN(ascii(status)) — an INT min keeps the rollup a mutable-buffer
    HashAggregate (a string MIN demotes to SortAggregate).

    Scale shape: ONE co-partitioned full-outer join on the merge key —
    exactly the shuffle a real MERGE pays; at 100 TB bucket base and
    delta by key to make it exchange-free, or broadcast the delta when
    it is small (the common CDC case). Money stays DECIMAL through
    the reprice and the sum (exact, order-free)."""
    o = t(spark, sf_dir, "orders")
    upd = o.filter(F.col("o_orderkey") % 100 < 20).select(
        F.col("o_orderkey").alias("d_key"),
        (dec("o_totalprice") * F.lit("1.10").cast("decimal(3,2)"))
        .cast("decimal(18,4)")
        .alias("d_price"),
        F.lit("U").alias("d_status"),
    )
    ins = o.filter(F.col("o_orderkey") % 100 >= 95).select(
        (F.col("o_orderkey") + 10000000).alias("d_key"),
        dec("o_totalprice").cast("decimal(18,4)").alias("d_price"),
        F.lit("N").alias("d_status"),
    )
    delta = upd.union(ins)
    m = o.join(delta, o.o_orderkey == delta.d_key, "full_outer")
    op = (
        F.when(F.col("d_key").isNull(), "keep")
        .when(F.col("o_orderkey").isNull(), "insert")
        .otherwise("update")
    )
    return (
        m.select(
            op.alias("op"),
            F.coalesce(
                F.col("d_price"), dec("o_totalprice").cast("decimal(18,4)")
            ).alias("price"),
            F.coalesce(F.col("d_status"), F.col("o_orderstatus")).alias("status"),
        )
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
            F.min(F.ascii("status")).alias("min_status_code"),
        )
        .orderBy("op")
    )


def _pagerank_sql(iters: int = 3) -> str:
    """Unrolled-CTE DuckDB twin of operators.graph.pagerank over the
    customer-nation -> supplier-nation trade graph."""
    parts = [
        """
WITH e AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e GROUP BY src),
nodes AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
r0 AS (SELECT vertex, CAST(0.04 AS DOUBLE) AS pr FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
c{i} AS (SELECT e.dst AS cv,
              CAST(SUM(CAST(ROUND(r.pr * e.w / ow.out_w, 12) AS DECIMAL(38,12)))
                   AS DOUBLE) AS s
       FROM e JOIN r{i - 1} r ON e.src = r.vertex JOIN ow ON e.src = ow.src
       GROUP BY e.dst),
r{i} AS (SELECT n.vertex, ROUND(0.006 + 0.85 * COALESCE(c.s, 0.0), 12) AS pr
       FROM nodes n LEFT JOIN c{i} c ON n.vertex = c.cv)"""
        )
    parts.append(
        f"""
SELECT n_nationkey, n_name, r.pr AS pagerank
FROM r{iters} r JOIN nation ON n_nationkey = r.vertex
ORDER BY n_nationkey"""
    )
    return "".join(parts)


@query("rel_trade_pagerank", oracle=_pagerank_sql(3))
def rel_trade_pagerank(spark, sf_dir):
    """PageRank over the customer-nation -> supplier-nation trade
    graph (edge weight = lineitem count), 3 fixed iterations of
    operators.graph.pagerank — the iterative-dataflow operator beyond
    connected components, with a FULL hash oracle via unrolled CTEs
    (the emb_kmeans loop-unroll discipline).

    Scale shape: the corpus-sized work is the ONE edge aggregation
    (lineitem joins orders on the fact key; customer/supplier dims
    broadcast); iterations then run on the checkpointed O(|V|+|E|)
    graph only and never replay the corpus. Contributions round to
    12dp and sum as DECIMAL(38,12) — order-free, so any cluster width
    produces bit-identical ranks."""
    from gazelle_plugin_spark.operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pr = pagerank(edges, iters=3, damping=0.85, init_rank=0.04, teleport=0.006)
    return (
        pr.join(F.broadcast(n), pr.vertex == n.n_nationkey)
        .select("n_nationkey", "n_name", F.col("pr").alias("pagerank"))
        .orderBy("n_nationkey")
    )


@query(
    "rel_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
ORDER BY event_type
""",
)
def rel_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via mergeable bitmaps — the 100 TB
    COUNT(DISTINCT) pattern: bucket each key (bitmap_bucket_number /
    bitmap_bit_position), build per-(group, bucket) bitmaps with
    bitmap_construct_agg (map-side combinable), then count bits and
    SUM. The all-groups total comes from bitmap_or_agg over the SAME
    per-bucket bitmaps — no second scan, proving merge associativity.

    Scale shape: unlike a naive COUNT DISTINCT (whose expand/
    deduplicate shuffles every raw key), the shuffle carries one
    fixed-width bitmap per (group, bucket); buckets cap bitmap size
    so skewed groups split across buckets. The binary bitmap buffer
    is immutable, so Spark plans SortAggregate — but the sort is
    PER-PARTITION on (group, bucket) ahead of a still-combinable
    partial aggregate; no global sort of the fact ever happens
    (golden pins the shape). The oracle is DuckDB's
    exact COUNT(DISTINCT) — bit-for-bit agreement, not an estimate."""
    e = t(spark, sf_dir, "events").select("event_type", "user_id")
    b = e.select(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"),
        F.bitmap_bit_position("user_id").alias("pos"),
    )
    per_bucket = b.groupBy("event_type", "bucket").agg(
        F.bitmap_construct_agg("pos").alias("bm")
    )
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )
    overall = (
        per_bucket.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
        .select(F.lit("ALL").alias("event_type"), "n_users")
    )
    return per_type.select("event_type", "n_users").union(overall).orderBy(
        "event_type"
    )


@query(
    "rel_hll_union",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_cntd,
       TRUE AS est_in_5pct
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM events
ORDER BY event_type
""",
)
def rel_hll_union(spark, sf_dir):
    """Mergeable APPROXIMATE distinct counting: one Datasketches HLL
    sketch per group (hll_sketch_agg), the corpus total from
    hll_union_agg over the per-group sketches — the re-aggregatable
    rollup a 100 TB pipeline stores instead of raw keys (sketches
    union across days/partitions; exact counts don't). The oracle
    trick of rel_approx_agg: the exact count ships alongside and the
    5%-bound check is a Spark-computed BOOLEAN, so DuckDB verifies
    exact values + in-bound flags by hash.

    Scale shape: the shuffle carries one ~4 KB sketch per group; the
    total row unions SKETCHES (never re-reads the fact); the 1-row
    exact-total aggregate joins by broadcast (q11 scalar pattern)."""
    e = t(spark, sf_dir, "events").select("event_type", "user_id")
    per = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_cntd"),
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    in5 = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("exact_cntd")) * 20
        <= F.col("exact_cntd")
    ).alias("est_in_5pct")
    per_out = per.select("event_type", "exact_cntd", in5)
    tot_exact = e.agg(F.countDistinct("user_id").alias("exact_cntd"))
    tot_sk = per.agg(F.hll_union_agg("sk").alias("sk"))
    tot = tot_exact.crossJoin(F.broadcast(tot_sk)).select(
        F.lit("ALL").alias("event_type"), "exact_cntd", in5
    )
    return per_out.union(tot).orderBy("event_type")


@query(
    "rel_regression",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
ORDER BY l_returnflag
""",
)
def rel_regression(spark, sf_dir):
    """Per-group least-squares regression (price on quantity) from
    MOMENTS — the one-pass formulation that scales: a single
    map-side-combinable aggregate collects (n, sum x, sum y, sum xy,
    sum x^2, sum y^2) and slope/intercept/r^2 derive per group
    afterwards. The built-in regr_slope/regr_* would accumulate
    doubles in partial-sum order (layout-dependent bits); here the
    moments are EXACT DECIMAL sums cast to double once, so the final
    expressions are bit-identical on any engine/width.

    Scale shape: one shuffle carrying six fixed-width moment columns
    per group — the pattern extends to any GLM-ish sufficient
    statistic (covariance matrices, Welford-free variance)."""
    li = t(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity"), dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope_raw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(slope_raw, 6).alias("slope"),
        F.round((sy - slope_raw * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "rel_open_intervals",
    oracle="""
WITH j AS (
  SELECT LEAST(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS sday,
         GREATEST(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) + 1 AS eday
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deltas AS (
  SELECT sday AS day, 1 AS d_open, 0 AS d_close FROM j
  UNION ALL
  SELECT eday, 0, 1 FROM j
),
per_day AS (
  SELECT day, CAST(SUM(d_open) AS BIGINT) AS n_start,
         CAST(SUM(d_close) AS BIGINT) AS n_end,
         CAST(SUM(d_open) - SUM(d_close) AS BIGINT) AS net
  FROM deltas GROUP BY day
)
SELECT CAST(day AS TIMESTAMP) AS day, n_start, n_end,
       CAST(SUM(net) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS open_lines
FROM per_day
ORDER BY day
""",
)
def rel_open_intervals(spark, sf_dir):
    """Sweep-line interval counting: how many order lines are IN
    FLIGHT (ordered, not yet shipped) on every calendar day. Each
    interval becomes a +1 at its start and a -1 after its end; a
    running sum over days yields the concurrent-open count — the
    O(n) alternative to joining every interval against every day.

    Scale shape: the corpus-sized work is the fact join and ONE
    combinable day-grain rollup; the running sum's single-partition
    window then runs over the DAY domain (bounded: ~365 rows/year
    regardless of corpus size), so the classic global-window hazard
    never touches fact-sized data. The same shape serves concurrent
    sessions, open connections, and license-seat counting. (The few
    synthetic lines shipping before their order date are clamped via
    LEAST/GREATEST so every interval is well-formed.)"""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    od, sd = F.to_date("o_orderdate"), F.to_date("l_shipdate")
    # LEAST/GREATEST clamp: the synthetic data ships a few lines
    # BEFORE their order date; an unclamped sweep would go negative
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.least(od, sd).alias("sday"),
        F.date_add(F.greatest(od, sd), 1).alias("eday"),
    )
    # one pass: each interval EXPLODES to its (+1, -1) event pair —
    # a union of two projections would join the fact twice
    deltas = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("sday").alias("day"),
                    F.lit(1).alias("d_open"),
                    F.lit(0).alias("d_close"),
                ),
                F.struct(
                    F.col("eday").alias("day"),
                    F.lit(0).alias("d_open"),
                    F.lit(1).alias("d_close"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    from pyspark.sql import Window

    per_day = (
        deltas
        .groupBy("day")
        .agg(
            F.sum("d_open").alias("n_start"),
            F.sum("d_close").alias("n_end"),
            (F.sum("d_open") - F.sum("d_close")).alias("net"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        F.col("day").cast("timestamp").alias("day"),
        "n_start",
        "n_end",
        F.sum("net").over(w).alias("open_lines"),
    ).orderBy("day")


@query(
    "bkt_colocated_join",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS d_year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY year(o_orderdate)
ORDER BY d_year
""",
)
def bkt_colocated_join(spark, sf_dir):
    """Shuffle-free co-located join over BUCKETED tables — the
    reference replaces the shuffle machinery natively
    (ColumnarShuffleExchangeExec + splitters); the Spark-native
    equivalent is bucketing both join sides on the join key at rest,
    which this query exercises END-TO-END with a value oracle (the
    plain-parquet SQL form): lineitem and orders are mirrored once
    into 8-bucket, per-bucket-sorted parquet files, and the
    orderkey join then plans with ZERO exchange before the join
    (plan-golden: two shuffles total — the year rollup and the final
    ORDER BY; an unbucketed orderkey join shuffles BOTH fact sides
    first). The residual per-bucket SMJ sorts are shuffle-free and
    O(bucket); Spark 3+ no longer consumes the at-rest sort order by
    default (SPARK-32859 made bucketed-scan output ordering opt-in),
    so the sorted write is kept for read locality, not claimed in
    the plan.

    Scale shape: THE 100 TB lever (SCALE.md) — a nightly-bucketed
    fact turns every orderkey join from a full shuffle of the fact
    into a local zip of bucket files. The bucket files are written
    once per checkout (``_util.materialize_once``; ``bucketBy`` only
    writes through ``saveAsTable``, so through a staging external
    table whose catalog entry is dropped after the write). Each
    session registers them as external tables in the ``bktdb``
    database, which starts no Spark job.
    """
    import os

    from gazelle_plugin_spark.sources.bucketing import write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    slug = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")

    def bucketed(name: str, key: str):
        src = t(spark, sf_dir, name)

        def write(path: str) -> None:
            # one file per bucket: repartition on the key into the
            # bucket count
            write_bucketed(
                src.repartition(8, F.col(key)), "bktdb.staging", [key],
                num_buckets=8, sort_cols=[key], path=path,
            )
            spark.sql("DROP TABLE bktdb.staging")  # external: the files stay

        loc = materialize_once(sf_dir, f"bucketed/{name}", write)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in src.schema)
        tbl = f"bktdb.{name}_{slug}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} ({cols}) USING parquet CLUSTERED BY ({key}) "
            f"SORTED BY ({key}) INTO 8 BUCKETS LOCATION '{loc}'"
        )
        return spark.table(tbl)

    li = bucketed("lineitem", "l_orderkey")
    # the merge hint pins the fact-x-fact plan shape: at test scale
    # orders fits the broadcast threshold and Catalyst would broadcast
    # it (hiding the bucket co-location this query exists to prove);
    # at 100 TB both sides are facts and SMJ is the plan regardless
    o = bucketed("orders", "o_orderkey").hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("d_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(disc_price()).cast("double").alias("revenue"),
        )
        .orderBy("d_year")
    )


@query(
    "rel_exact_percentiles",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
       ROUND(quantile_cont(l_quantity, 0.50), 6) AS qty_median
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def rel_exact_percentiles(spark, sf_dir):
    """EXACT percentiles (linear interpolation) per group — the
    deterministic complement of rel_approx_agg's percentile_approx:
    Spark's sort-based `percentile` aggregate against DuckDB's
    quantile_cont, which shares the same continuous-interpolation
    definition, so the values hash-match exactly on identical double
    inputs (rounded only for output display).

    Scale shape: exact quantiles are the one aggregate here that is
    NOT O(1)-state combinable — Spark's partial collects per-group
    value buffers, so memory is O(group size) and the op is reserved
    for bounded groups (3 return flags); unbounded-cardinality
    columns take the percentile_approx path (fixed-size mergeable
    sketch, rel_approx_agg). Having BOTH, each oracle-graded, is the
    point: the exact one grades the sketch.
    """
    li = t(spark, sf_dir, "lineitem")
    pct = lambda c, p: F.round(F.percentile(c, F.lit(p)), 6)  # noqa: E731
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pct("l_extendedprice", 0.25).alias("p25"),
            pct("l_extendedprice", 0.50).alias("p50"),
            pct("l_extendedprice", 0.75).alias("p75"),
            pct("l_extendedprice", 0.99).alias("p99"),
            pct("l_quantity", 0.50).alias("qty_median"),
        )
        .orderBy("l_returnflag")
    )
