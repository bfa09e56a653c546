"""Star Schema Benchmark (SSB) — the reference's third query corpus
(reference: native-sql-engine/core/src/test/scala/com/intel/oap/tpc/
ssb/SSBQuerySuite.scala; query texts core/src/test/resources/ssb/
1.1.sql..4.3.sql), retargeted to the driver's TPC-H-ish schema:

- lineorder (fact)   -> lineitem JOIN orders on orderkey
- date dim           -> derived from o_orderdate (year/yearmonth/week)
- lo_revenue         -> l_extendedprice * (1 - l_discount)  (exact decimal)
- lo_extendedprice * lo_discount (Q1 flight) -> same columns here
- lo_supplycost      -> synthetic 100.00/unit (l_quantity * 100)
- city-level groups (Q3.2+, Q4.3) -> key % 20 buckets
- p_category/p_mfgr  -> p_type; p_brand1 -> p_brand
- s_region/c_region  -> supplier/customer -> nation -> region joins

All four SSB flights keep their shape: Q1 scan+filter+global agg,
Q2 two broadcast dims + group, Q3 symmetric customer/supplier dims,
Q4 three dims + profit arithmetic. Dims are broadcast explicitly —
at 100 TB the fact table streams once per query, zero fact-side
shuffle before the final group-by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import (
    SQL_DISC_PRICE,
    dec,
    disc_price,
    materialize_once,
    sort_small,
    sql_dsum,
    t,
)

#: synthetic per-unit supply cost (the schema has no lo_supplycost)
SUPPLY_COST = 100

_SQL_FACT = """
  SELECT l.*, o.o_orderdate, o.o_custkey,
         CAST(year(o.o_orderdate) AS INT) AS d_year,
         CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS INT) AS d_yearmonth,
         CAST(weekofyear(o.o_orderdate) AS INT) AS d_week
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""

_SQL_SUPP_R = """
  SELECT s_suppkey, n_name AS s_nation, r_name AS s_region,
         CAST(s_suppkey % 20 AS INT) AS s_city
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
"""

_SQL_CUST_R = """
  SELECT c_custkey, n_name AS c_nation, r_name AS c_region,
         CAST(c_custkey % 20 AS INT) AS c_city
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
"""

SQL_REVENUE = SQL_DISC_PRICE  # lo_revenue analog
SQL_PROFIT = f"({SQL_DISC_PRICE} - CAST(l_quantity AS DECIMAL(12,2)) * {SUPPLY_COST})"


def fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineorder analog: lineitem x orders + derived date attributes."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("d_year", F.year(d))
        .withColumn("d_yearmonth", F.year(d) * 100 + F.month(d))
        .withColumn("d_week", F.weekofyear(d))
    )


def supplier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey",
            F.col("n_name").alias("s_nation"),
            F.col("r_name").alias("s_region"),
            F.pmod(F.col("s_suppkey"), F.lit(20)).cast("int").alias("s_city"),
        )
    )


def customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("c_nation"),
            F.col("r_name").alias("c_region"),
            F.pmod(F.col("c_custkey"), F.lit(20)).cast("int").alias("c_city"),
        )
    )


def revenue() -> F.Column:
    return disc_price()


def profit() -> F.Column:
    return disc_price() - dec("l_quantity") * SUPPLY_COST


# ------------------------------------------------------------- flight 1

@query(
    "ssb1_1",
    oracle=f"""
SELECT {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue
FROM ({_SQL_FACT}) f
WHERE d_year = 1996 AND l_discount BETWEEN 0.01 AND 0.03 AND l_quantity < 25
""",
)
def ssb1_1(spark, sf_dir):
    """SSB 1.1 (ssb/1.1.sql): year + discount-band + quantity filters,
    one global sum of extendedprice*discount."""
    f = fact(spark, sf_dir).filter(
        (F.col("d_year") == 1996)
        & F.col("l_discount").between(0.01, 0.03)
        & (F.col("l_quantity") < 25)
    )
    rev = dec("l_extendedprice") * dec("l_discount", 4, 2)
    return f.agg(F.sum(rev).cast("double").alias("revenue"))


@query(
    "ssb1_2",
    oracle=f"""
SELECT {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue
FROM ({_SQL_FACT}) f
WHERE d_yearmonth = 199601 AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity BETWEEN 26 AND 35
""",
)
def ssb1_2(spark, sf_dir):
    """SSB 1.2 (ssb/1.2.sql): month-granular date filter."""
    f = fact(spark, sf_dir).filter(
        (F.col("d_yearmonth") == 199601)
        & F.col("l_discount").between(0.04, 0.06)
        & F.col("l_quantity").between(26, 35)
    )
    rev = dec("l_extendedprice") * dec("l_discount", 4, 2)
    return f.agg(F.sum(rev).cast("double").alias("revenue"))


@query(
    "ssb1_3",
    oracle=f"""
SELECT {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue
FROM ({_SQL_FACT}) f
WHERE d_week = 6 AND d_year = 1996 AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity BETWEEN 26 AND 35
""",
)
def ssb1_3(spark, sf_dir):
    """SSB 1.3 (ssb/1.3.sql): week-granular date filter."""
    f = fact(spark, sf_dir).filter(
        (F.col("d_week") == 6)
        & (F.col("d_year") == 1996)
        & F.col("l_discount").between(0.05, 0.07)
        & F.col("l_quantity").between(26, 35)
    )
    rev = dec("l_extendedprice") * dec("l_discount", 4, 2)
    return f.agg(F.sum(rev).cast("double").alias("revenue"))


# ------------------------------------------------------------- flight 2

def _flight2(spark, sf_dir, part_pred, region, load=None):
    """load: optional ``name -> DataFrame`` override (the ORC-path
    query swaps the parquet loader for an ORC one; plan unchanged)."""
    ld = load or (lambda name: t(spark, sf_dir, name))
    li = ld("lineitem")
    o = ld("orders")
    p = ld("part").filter(part_pred)
    sup = ld("supplier")
    n = ld("nation")
    r = ld("region")
    s = (
        sup.join(n, sup.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("s_region"))
        .filter(F.col("s_region") == region)
    )
    # Selective broadcast dims FIRST, the fact-to-fact orders join
    # LAST: the brand/region predicates keep ~1% of lineitem, so the
    # l_orderkey shuffle (the expensive exchange at scale) moves ~100x
    # less data than joining orders against the full lineitem.
    f = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    f = f.join(o, f.l_orderkey == o.o_orderkey).withColumn(
        "d_year", F.year(F.col("o_orderdate"))
    )
    return sort_small(
        f.groupBy("d_year", "p_brand").agg(F.sum(revenue()).cast("double").alias("revenue")),
        "d_year", "p_brand",
    )


def _flight2_sql(part_pred_sql, region):
    return f"""
SELECT d_year, p_brand, {sql_dsum(SQL_REVENUE)} AS revenue
FROM ({_SQL_FACT}) f
JOIN part ON f.l_partkey = p_partkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
WHERE {part_pred_sql} AND s_region = '{region}'
GROUP BY d_year, p_brand
ORDER BY d_year, p_brand
"""


@query("ssb2_1", oracle=_flight2_sql("p_type = 'MEDIUM'", "AMERICA"))
def ssb2_1(spark, sf_dir):
    """SSB 2.1 (ssb/2.1.sql): category + supplier-region, revenue by
    (year, brand). p_category MFGR#12 -> p_type MEDIUM."""
    return _flight2(spark, sf_dir, F.col("p_type") == "MEDIUM", "AMERICA")


@query(
    "ssb2_2",
    oracle=_flight2_sql("p_brand BETWEEN 'Brand#21' AND 'Brand#24'", "ASIA"),
)
def ssb2_2(spark, sf_dir):
    """SSB 2.2 (ssb/2.2.sql): brand range (lexicographic, as in the
    original between MFGR#2221 and MFGR#2228)."""
    return _flight2(
        spark, sf_dir, F.col("p_brand").between("Brand#21", "Brand#24"), "ASIA"
    )


@query("ssb2_3", oracle=_flight2_sql("p_brand = 'Brand#14'", "EUROPE"))
def ssb2_3(spark, sf_dir):
    """SSB 2.3 (ssb/2.3.sql): single brand."""
    return _flight2(spark, sf_dir, F.col("p_brand") == "Brand#14", "EUROPE")


# ------------------------------------------------------------- flight 3

@query(
    "ssb3_1",
    oracle=f"""
SELECT c_nation, s_nation, d_year, {sql_dsum(SQL_REVENUE)} AS revenue
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
WHERE c_region = 'ASIA' AND s_region = 'ASIA'
  AND d_year BETWEEN 1995 AND 1997
GROUP BY c_nation, s_nation, d_year
ORDER BY d_year, revenue DESC, c_nation, s_nation
""",
)
def ssb3_1(spark, sf_dir):
    """SSB 3.1 (ssb/3.1.sql): symmetric customer/supplier region
    filter, revenue by nation pair and year. Nation-pair tiebreakers
    beyond the spec's ORDER BY keep equal-revenue rows in one
    deterministic order for the order-sensitive driver hash (matching
    ssb3_2..3_4)."""
    f = fact(spark, sf_dir).filter(F.col("d_year").between(1995, 1997))
    c = customer_dim(spark, sf_dir).filter(F.col("c_region") == "ASIA")
    s = supplier_dim(spark, sf_dir).filter(F.col("s_region") == "ASIA")
    return sort_small(
        f.join(F.broadcast(c), f.o_custkey == c.c_custkey)
        .join(F.broadcast(s), f.l_suppkey == s.s_suppkey)
        .groupBy("c_nation", "s_nation", "d_year")
        .agg(F.sum(revenue()).cast("double").alias("revenue")),
        "d_year", F.desc("revenue"), "c_nation", "s_nation",
    )


def _flight3_city(spark, sf_dir, c_pred, s_pred, extra=None):
    f = fact(spark, sf_dir)
    if extra is not None:
        f = f.filter(extra)
    c = customer_dim(spark, sf_dir).filter(c_pred)
    s = supplier_dim(spark, sf_dir).filter(s_pred)
    return sort_small(
        f.join(F.broadcast(c), f.o_custkey == c.c_custkey)
        .join(F.broadcast(s), f.l_suppkey == s.s_suppkey)
        .groupBy("c_city", "s_city", "d_year")
        .agg(F.sum(revenue()).cast("double").alias("revenue")),
        "d_year", F.desc("revenue"), "c_city", "s_city",
    )


@query(
    "ssb3_2",
    oracle=f"""
SELECT c_city, s_city, d_year, {sql_dsum(SQL_REVENUE)} AS revenue
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
WHERE c_nation = 'NATION_3' AND s_nation = 'NATION_3'
GROUP BY c_city, s_city, d_year
ORDER BY d_year, revenue DESC, c_city, s_city
""",
)
def ssb3_2(spark, sf_dir):
    """SSB 3.2 (ssb/3.2.sql): nation-level filter, city-level groups
    (cities = key % 20 buckets in this schema)."""
    return _flight3_city(
        spark,
        sf_dir,
        F.col("c_nation") == "NATION_3",
        F.col("s_nation") == "NATION_3",
    )


@query(
    "ssb3_3",
    oracle=f"""
SELECT c_city, s_city, d_year, {sql_dsum(SQL_REVENUE)} AS revenue
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
WHERE c_city IN (1, 5) AND s_city IN (1, 5)
GROUP BY c_city, s_city, d_year
ORDER BY d_year, revenue DESC, c_city, s_city
""",
)
def ssb3_3(spark, sf_dir):
    """SSB 3.3 (ssb/3.3.sql): two-city filter both sides."""
    return _flight3_city(
        spark,
        sf_dir,
        F.col("c_city").isin(1, 5),
        F.col("s_city").isin(1, 5),
    )


@query(
    "ssb3_4",
    oracle=f"""
SELECT c_city, s_city, d_year, {sql_dsum(SQL_REVENUE)} AS revenue
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
WHERE c_city IN (1, 5) AND s_city IN (1, 5) AND d_yearmonth = 199606
GROUP BY c_city, s_city, d_year
ORDER BY d_year, revenue DESC, c_city, s_city
""",
)
def ssb3_4(spark, sf_dir):
    """SSB 3.4 (ssb/3.4.sql): cities + single month."""
    return _flight3_city(
        spark,
        sf_dir,
        F.col("c_city").isin(1, 5),
        F.col("s_city").isin(1, 5),
        extra=F.col("d_yearmonth") == 199606,
    )


# ------------------------------------------------------------- flight 4

@query(
    "ssb4_1",
    oracle=f"""
SELECT d_year, c_nation, {sql_dsum(SQL_PROFIT)} AS profit
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
JOIN part ON f.l_partkey = p_partkey
WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
  AND p_type IN ('MEDIUM', 'LARGE')
GROUP BY d_year, c_nation
ORDER BY d_year, c_nation
""",
)
def ssb4_1(spark, sf_dir):
    """SSB 4.1 (ssb/4.1.sql): profit (revenue - supplycost) by year
    and customer nation; p_mfgr MFGR#1/2 -> p_type MEDIUM/LARGE."""
    f = fact(spark, sf_dir)
    c = customer_dim(spark, sf_dir).filter(F.col("c_region") == "AMERICA")
    s = supplier_dim(spark, sf_dir).filter(F.col("s_region") == "AMERICA")
    p = t(spark, sf_dir, "part").filter(F.col("p_type").isin("MEDIUM", "LARGE"))
    return sort_small(
        f.join(F.broadcast(c), f.o_custkey == c.c_custkey)
        .join(F.broadcast(s), f.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), f.l_partkey == p.p_partkey)
        .groupBy("d_year", "c_nation")
        .agg(F.sum(profit()).cast("double").alias("profit")),
        "d_year", "c_nation",
    )


@query(
    "ssb4_2",
    oracle=f"""
SELECT d_year, s_nation, p_type, {sql_dsum(SQL_PROFIT)} AS profit
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
JOIN part ON f.l_partkey = p_partkey
WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
  AND d_year IN (1997, 1998) AND p_type IN ('MEDIUM', 'LARGE')
GROUP BY d_year, s_nation, p_type
ORDER BY d_year, s_nation, p_type
""",
)
def ssb4_2(spark, sf_dir):
    """SSB 4.2 (ssb/4.2.sql): drill to supplier nation and p_type for
    two years."""
    f = fact(spark, sf_dir).filter(F.col("d_year").isin(1997, 1998))
    c = customer_dim(spark, sf_dir).filter(F.col("c_region") == "AMERICA")
    s = supplier_dim(spark, sf_dir).filter(F.col("s_region") == "AMERICA")
    p = t(spark, sf_dir, "part").filter(F.col("p_type").isin("MEDIUM", "LARGE"))
    return sort_small(
        f.join(F.broadcast(c), f.o_custkey == c.c_custkey)
        .join(F.broadcast(s), f.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), f.l_partkey == p.p_partkey)
        .groupBy("d_year", "s_nation", "p_type")
        .agg(F.sum(profit()).cast("double").alias("profit")),
        "d_year", "s_nation", "p_type",
    )


@query(
    "ssb4_3",
    oracle=f"""
SELECT d_year, s_city, p_brand, {sql_dsum(SQL_PROFIT)} AS profit
FROM ({_SQL_FACT}) f
JOIN ({_SQL_CUST_R}) c ON f.o_custkey = c.c_custkey
JOIN ({_SQL_SUPP_R}) s ON f.l_suppkey = s.s_suppkey
JOIN part ON f.l_partkey = p_partkey
WHERE c_region = 'AMERICA' AND s_nation = 'NATION_3'
  AND d_year IN (1997, 1998) AND p_type = 'MEDIUM'
GROUP BY d_year, s_city, p_brand
ORDER BY d_year, s_city, p_brand
""",
)
def ssb4_3(spark, sf_dir):
    """SSB 4.3 (ssb/4.3.sql): drill to supplier city and brand."""
    f = fact(spark, sf_dir).filter(F.col("d_year").isin(1997, 1998))
    c = customer_dim(spark, sf_dir).filter(F.col("c_region") == "AMERICA")
    s = supplier_dim(spark, sf_dir).filter(F.col("s_nation") == "NATION_3")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "MEDIUM")
    return sort_small(
        f.join(F.broadcast(c), f.o_custkey == c.c_custkey)
        .join(F.broadcast(s), f.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), f.l_partkey == p.p_partkey)
        .groupBy("d_year", "s_city", "p_brand")
        .agg(F.sum(profit()).cast("double").alias("profit")),
        "d_year", "s_city", "p_brand",
    )


# --------------------------------------------------- ORC query path

@query("orc_ssb2_1", oracle=_flight2_sql("p_type = 'MEDIUM'", "AMERICA"))
def orc_ssb2_1(spark, sf_dir):
    """SSB 2.1 read from ORC (reference Orc_TPCDSSuite.scala parity):
    the identical flight-2 plan over an ORC mirror of the tables,
    checked against the SAME parquet-side DuckDB oracle — proving the
    ORC scan path (pushdown, pruning, vectorized decode) produces
    value-identical results to the parquet path. The reference runs its
    TPC-DS corpus over ORC through the same Arrow scan
    (arrow-data-source ArrowUtils.scala:212-218 format list); here it is
    Spark's native vectorized ORC reader."""
    from gazelle_plugin_spark.sources import io

    def orc(name):
        path = materialize_once(
            sf_dir, f"orc/{name}", lambda tmp: io.write(t(spark, sf_dir, name), tmp, fmt="orc")
        )
        return io.read(spark, path, fmt="orc")

    return _flight2(spark, sf_dir, F.col("p_type") == "MEDIUM", "AMERICA", load=orc)
