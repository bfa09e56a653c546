"""TPC-H-derived query suite (22 queries), adapted to the driver's
simplified schema (TESTDATA.md: no partsupp table; no comment /
phone / address / shipmode / commitdate / receiptdate columns).

Query texts follow the reference's e2e corpus
(reference: native-sql-engine/core/src/test/resources/tpch/q1.sql..q22.sql,
run by com/intel/oap/tpc/h/TPCHSuite.scala:42-120); where a column or
table is absent from the synthetic data the predicate is re-targeted
to an available column, preserving the operator shape (the join
topology, subquery pattern, and aggregate structure the reference's
columnar operators were exercised by).

Every query is idiomatic DataFrame API — scans, fused filter+project
(ColumnarConditionProjectExec analog), hash aggregate
(ColumnarHashAggregateExec), broadcast/shuffled-hash/sort-merge joins
(ColumnarBroadcast/ShuffledHash/SortMergeJoinExec), sort + limit
(ColumnarSortExec / TakeOrderedAndProject) — so Catalyst plans
pushdown, pruning, and join strategy selection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import (
    SQL_CHARGE,
    SQL_DISC_PRICE,
    davg,
    dec,
    disc_price,
    dsum,
    one_minus,
    one_plus,
    sort_small,
    sql_davg,
    sql_dsum,
    t,
)


@query(
    "q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2))')} AS sum_base_price,
       {sql_dsum(SQL_DISC_PRICE)} AS sum_disc_price,
       {sql_dsum(SQL_CHARGE)} AS sum_charge,
       SUM(l_quantity) / COUNT(l_quantity) AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1(spark, sf_dir):
    """Pricing summary report (tpch/q1.sql; horizon moved into the
    synthetic date range). Scan -> filter -> hash agg -> sort."""
    l = t(spark, sf_dir, "lineitem")
    return sort_small(
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(disc_price() * one_plus("l_tax")).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ),
        "l_returnflag", "l_linestatus",
    )


@query(
    "q2",
    oracle="""
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
FROM part, supplier, lineitem, nation, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND p_size = 15 AND p_type = 'SMALL'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND s_acctbal = (
    SELECT MAX(s2.s_acctbal)
    FROM supplier s2, lineitem l2, nation n2, region r2
    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q2(spark, sf_dir):
    """Best supplier per part (tpch/q2.sql; partsupp replaced by the
    lineitem part<->supplier linkage, min supplycost -> max acctbal).
    Multi-join + correlated scalar subquery — the MAX-per-part
    threshold is a single-pass window (max over partition by
    l_partkey) instead of the classic agg + self-join of the linked
    fact: one shuffle on l_partkey, the probe side is read once
    (round-2 verdict item 9). The highly selective part predicate is
    broadcast-SEMI-joined against the linkage BEFORE the window: the
    per-partkey max is invariant to which parts survive, so dropping
    non-qualifying parts early is semantics-preserving and the window
    shuffle carries only rows for surviving parts (~1/250th at SF1+;
    round-5 verdict item 2)."""
    from pyspark.sql import Window

    part = t(spark, sf_dir, "part").filter((F.col("p_size") == 15) & (F.col("p_type") == "SMALL"))
    supplier = t(spark, sf_dir, "supplier")
    lineitem = t(spark, sf_dir, "lineitem")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    eu_sup = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part_keys = part.select(F.col("p_partkey").alias("l_partkey"))
    linked = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(part_keys), "l_partkey", "left_semi")
        .join(eu_sup, lineitem.l_suppkey == eu_sup.s_suppkey)
    )
    w = Window.partitionBy("l_partkey")
    return (
        linked.withColumn("max_acctbal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("max_acctbal"))
        .join(F.broadcast(part), linked.l_partkey == part.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .distinct()
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q3",
    oracle=f"""
SELECT l_orderkey,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3(spark, sf_dir):
    """Shipping priority (tpch/q3.sql; o_shippriority column absent —
    dropped from the projection). Broadcast-able dims + top-k."""
    customer = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lineitem = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q4",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT * FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4(spark, sf_dir):
    """Order priority checking (tpch/q4.sql; commitdate<receiptdate
    lateness test re-targeted to shipdate > orderdate+60d). EXISTS ->
    left-semi join (ColumnarSortMergeJoinExec LeftSemi analog)."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    lineitem = t(spark, sf_dir, "lineitem")
    cond = (lineitem.l_orderkey == orders.o_orderkey) & (
        lineitem.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return sort_small(
        orders.join(lineitem, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count")),
        "o_orderpriority",
    )


@query(
    "q5",
    oracle=f"""
SELECT n_name, {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC
""",
)
def q5(spark, sf_dir):
    """Local supplier volume (tpch/q5.sql, unmodified shape)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return sort_small(
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue")),
        F.desc("revenue"),
    )


@query(
    "q6",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q6(spark, sf_dir):
    """Forecasting revenue change (tpch/q6.sql, unmodified shape).
    Pure scan+filter+agg — pushdown showcase."""
    l = t(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(dec("l_extendedprice") * dec("l_discount", 4, 2)).cast("double").alias("revenue"))


@query(
    "q7",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
         {SQL_DISC_PRICE} AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7(spark, sf_dir):
    """Volume shipping (tpch/q7.sql; nation names from the synthetic
    NATION_<k> domain). Self-joined dim with disjunctive pair filter."""
    supplier = t(spark, sf_dir, "supplier")
    lineitem = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return sort_small(
        supplier.join(lineitem, supplier.s_suppkey == lineitem.l_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue")),
        "supp_nation", "cust_nation", "l_year",
    )


_Q8_CASE = "CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(17,4)) END"


@query(
    "q8",
    oracle=f"""
SELECT o_year,
       {sql_dsum(_Q8_CASE)}
         / {sql_dsum('volume')} AS mkt_share
FROM (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         {SQL_DISC_PRICE} AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def q8(spark, sf_dir):
    """National market share (tpch/q8.sql). Eight-way join + ratio of
    conditional aggregate."""
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = t(spark, sf_dir, "supplier")
    lineitem = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    customer = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = dec("l_extendedprice") * one_minus("l_discount")
    all_nations = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), customer.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("volume"),
            F.col("nation"),
        )
    )
    zero = F.lit(0).cast("decimal(17,4)")
    return sort_small(
        all_nations.groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(zero)).cast(
                    "double"
                )
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        ),
        "o_year",
    )


@query(
    "q9",
    oracle=f"""
SELECT nation, o_year, {sql_dsum('amount')} AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         {SQL_DISC_PRICE} AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey AND p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q9(spark, sf_dir):
    """Product type profit (tpch/q9.sql; ps_supplycost term dropped —
    no partsupp table; profit = discounted revenue)."""
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supplier = t(spark, sf_dir, "supplier")
    lineitem = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    return sort_small(
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            disc_price().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit")),
        "nation", F.desc("o_year"),
    )


@query(
    "q10",
    oracle=f"""
SELECT c_custkey, c_name, {sql_dsum(SQL_DISC_PRICE)} AS revenue, c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10(spark, sf_dir):
    """Returned item reporting (tpch/q10.sql; address/phone/comment
    columns absent — dropped from projection)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q11",
    oracle=f"""
SELECT l_partkey, {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))')} AS value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
GROUP BY l_partkey
HAVING {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))')} > (
  SELECT {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))')} * 0.001
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))
ORDER BY value DESC, l_partkey
""",
)
def q11(spark, sf_dir):
    """Important stock identification (tpch/q11.sql; partsupp value
    re-targeted to lineitem extendedprice*quantity). HAVING against a
    global scalar subquery."""
    lineitem = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    val = dec("l_extendedprice") * dec("l_quantity", 4, 0)
    base = (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(F.col("l_partkey"), val.alias("val"))
    )
    # single pass over the fact table: aggregate to partkey once (kept
    # as exact DECIMAL), then derive the global threshold FROM the
    # per-key partials instead of re-scanning base (the round-1 plan
    # evaluated base twice — a doubled fact scan+join at 100 TB)
    per_key = base.groupBy("l_partkey").agg(F.sum("val").alias("value_dec"))
    total = per_key.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        per_key.select("l_partkey", F.col("value_dec").cast("double").alias("value"))
        .join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


@query(
    "q12",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND l_returnflag IN ('A', 'R')
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q12(spark, sf_dir):
    """Shipping modes / priority (tpch/q12.sql; l_shipmode column
    absent — grouping re-targeted to l_returnflag). Conditional
    counts via CASE WHEN inside SUM."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return sort_small(
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        ),
        "l_returnflag",
    )


@query(
    "q13",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13(spark, sf_dir):
    """Customer distribution (tpch/q13.sql; comment NOT LIKE filter
    re-targeted to o_orderpriority). Left outer join + two-level agg."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14",
    oracle=f"""
SELECT 100.00 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN " + SQL_DISC_PRICE + " ELSE CAST(0 AS DECIMAL(17,4)) END")}
       / {sql_dsum(SQL_DISC_PRICE)} AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def q14(spark, sf_dir):
    """Promotion effect (tpch/q14.sql; p_type LIKE 'PROMO%' -> = since
    synthetic types are single words)."""
    lineitem = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(17,4)")
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(zero)
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price()).cast("double")
            ).alias("promo_revenue")
        )
    )


@query(
    "q15",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {sql_dsum(SQL_DISC_PRICE)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15(spark, sf_dir):
    """Top supplier (tpch/q15.sql; address/phone columns absent).
    View + scalar MAX subquery."""
    lineitem = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = t(spark, sf_dir, "supplier")
    revenue = lineitem.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(disc_price()).cast("double").alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        supplier.join(revenue, supplier.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 15, 25, 35, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16(spark, sf_dir):
    """Parts/supplier relationship (tpch/q16.sql; partsupp -> lineitem
    linkage, comment-LIKE supplier exclusion -> negative acctbal).
    COUNT DISTINCT + NOT IN anti-join."""
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    lineitem = t(spark, sf_dir, "lineitem")
    bad_sup = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return sort_small(
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_sup), lineitem.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")),
        F.desc("supplier_cnt"), "p_brand", "p_type", "p_size",
    )


@query(
    "q17",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_type = 'MEDIUM'
  AND l_quantity < (SELECT 0.2 * (SUM(l_quantity) / COUNT(l_quantity))
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)
def q17(spark, sf_dir):
    """Small-quantity-order revenue (tpch/q17.sql; p_container absent
    -> p_type). Correlated AVG subquery -> per-key agg + join."""
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "MEDIUM")
    )
    lineitem = t(spark, sf_dir, "lineitem")
    # semi-join lineitem down to the ~1% of parts that survive the
    # filter BEFORE computing the per-part average (the round-1 plan
    # aggregated ALL of lineitem — a full extra shuffle+agg of the
    # fact table at 100 TB). Catalyst plans the same shape for the
    # real correlated subquery.
    li_f = lineitem.join(
        F.broadcast(part.select("p_partkey")),
        lineitem.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    # quantities are integer-valued doubles: SUM/COUNT is exact, so
    # plain division matches the oracle bit-for-bit.
    avg_qty = li_f.groupBy(F.col("l_partkey").alias("ak_partkey")).agg(
        (F.lit(0.2) * (F.sum("l_quantity") / F.count("l_quantity"))).alias("qty_threshold")
    )
    return (
        li_f.join(avg_qty, li_f.l_partkey == F.col("ak_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


@query(
    "q18",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, SUM(l_quantity) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
""",
)
def q18(spark, sf_dir):
    """Large volume customer (tpch/q18.sql; threshold tuned to the
    synthetic order fan-out). The IN + GROUP BY/HAVING subquery's
    per-order ``sum(l_quantity)`` is the outer query's ``sum_qty``:
    ``o_orderkey`` is orders' key, so each outer group is one order and
    sums exactly that order's lineitems. The subquery's aggregate is
    therefore inner-joined to orders and customer and kept, in place of
    a semi join followed by a second lineitem scan, join and group-by."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    big = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q19",
    oracle=f"""
SELECT {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#12' AND p_type = 'SMALL' AND l_quantity >= 1 AND l_quantity <= 11 AND p_size BETWEEN 1 AND 5)
    OR (p_brand = 'Brand#23' AND p_type = 'MEDIUM' AND l_quantity >= 10 AND l_quantity <= 20 AND p_size BETWEEN 1 AND 10)
    OR (p_brand = 'Brand#3' AND p_type = 'LARGE' AND l_quantity >= 20 AND l_quantity <= 30 AND p_size BETWEEN 1 AND 15))
""",
)
def q19(spark, sf_dir):
    """Discounted revenue (tpch/q19.sql; container/shipmode predicates
    re-targeted to p_type). Disjunctive join residual condition —
    the conditioned-probe pattern (reference:
    cpp/codegen/arrow_compute/ext/conditioned_probe_kernel.cc)."""
    lineitem = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_type") == "SMALL")
        & F.col("l_quantity").between(1, 11)
        & F.col("p_size").between(1, 5)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_type") == "MEDIUM")
        & F.col("l_quantity").between(10, 20)
        & F.col("p_size").between(1, 10)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_type") == "LARGE")
        & F.col("l_quantity").between(20, 30)
        & F.col("p_size").between(1, 15)
    )
    return j.filter(c1 | c2 | c3).agg(F.sum(disc_price()).cast("double").alias("revenue"))


@query(
    "q20",
    oracle="""
SELECT s_name FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem, part
    WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey HAVING SUM(l_quantity) > 100)
ORDER BY s_name
""",
)
def q20(spark, sf_dir):
    """Potential part promotion (tpch/q20.sql; partsupp availqty check
    re-targeted to shipped quantity). Nested semi-join chain."""
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    lineitem = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    good = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
    )
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(good, supplier.s_suppkey == good.l_suppkey, "left_semi")
        .select("s_name")
        .orderBy("s_name")
    )


@query(
    "q21",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT * FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT * FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def q21(spark, sf_dir):
    """Suppliers who kept orders waiting (tpch/q21.sql; receipt/commit
    lateness re-targeted to shipdate > orderdate+30d).

    The EXISTS + correlated NOT EXISTS pair is re-expressed as ONE
    per-order supplier-stats aggregate: for lines of 'F' orders,
    ``n_supp = COUNT(DISTINCT suppkey)`` and ``n_late =
    COUNT(DISTINCT suppkey with a late line)``. A late line l1
    satisfies q21 iff ``n_supp >= 2`` (another supplier exists) and
    ``n_late = 1`` (l1's supplier is the ONLY late one — no OTHER
    late supplier). The oracle keeps the literal EXISTS/NOT-EXISTS
    form, proving equivalence. Scale shape: the literal form shuffles
    the fact THREE times (l1 + semi probe + anti probe); this form
    shuffles it once on l_orderkey and reuses that partitioning for
    the stats aggregate AND the join-back (ReusedExchange), with the
    semi/anti semantics folded into two integer filters."""
    supplier = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    nation = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
    )
    return (
        lo.filter(late)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "q22",
    oracle="""
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 5 AS VARCHAR) AS cntrycode, c_acctbal
  FROM customer
  WHERE CAST(c_nationkey % 5 AS VARCHAR) IN ('0', '1', '2')
    AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal)
                     FROM customer
                     WHERE c_acctbal > 0.00 AND CAST(c_nationkey % 5 AS VARCHAR) IN ('0', '1', '2'))
    AND NOT EXISTS (SELECT * FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
""",
)
def q22(spark, sf_dir):
    """Global sales opportunity (tpch/q22.sql; phone country code
    re-targeted to c_nationkey % 5; NOT EXISTS re-targeted to urgent
    orders — the synthetic data gives every customer >=1 order, which
    made the original anti join vacuously empty). Scalar AVG subquery
    + NOT EXISTS anti join + final agg.

    SEMANTIC DRIFT NOTE (round-2 change, kept): the urgent-order
    re-target means q22 results/timings are NOT comparable to
    standard TPC-H q22 or to round-1 numbers — the anti join now
    filters ~4/5 of customers instead of none. Flagged here and in
    README so cross-round bench deltas aren't misread."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    cntrycode = (F.col("c_nationkey") % 5).cast("string")
    in_set = cntrycode.isin("0", "1", "2")
    avg_bal = (
        customer.filter((F.col("c_acctbal") > 0.00) & in_set)
        .agg(davg("c_acctbal").alias("avg_bal"))
    )
    return sort_small(
        customer.filter(in_set)
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select(cntrycode.alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        ),
        "cntrycode",
    )
