"""TPC-H-shape analytics, part 2: the remaining classic join/subquery
shapes (Q7/Q8/Q9/Q12/Q13/Q15/Q16/Q17/Q19/Q21/Q22, plus a Q2-style
correlated min), adapted to the synthetic schema (no partsupp /
shipmode / commit-receipt dates — see each docstring for the mapping).

Broadcast policy follows SCALE.md: explicit ``F.broadcast`` ONLY on
schema-fixed dims (region=5, nation=25); SF-scaling tables (customer,
supplier, part) are left to AQE. Every aggregate is aliased identically
in the Spark plan and the DuckDB oracle so the driver's value-hash
compare is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analytics import _t

def _rev():
    # built lazily: a module-level Column would require an active
    # SparkContext at import time and break importing the registry
    # before the session exists
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# -- Q7: volume shipping between two nations ---------------------------------


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year — lineitem⋈supplier⋈orders⋈customer with two nation dims
    (both broadcast: 25 rows each by schema)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_17")
    ) | ((F.col("supp_nation") == "NATION_17") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_17')
      OR (n1.n_name = 'NATION_17' AND n2.n_name = 'NATION_3'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                       AND TIMESTAMP '1996-12-31 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# -- Q8: national market share ------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of ECONOMY-part volume sold to
    EUROPE customers, by order year. region+nation broadcast; the
    conditional-share aggregate is one pass."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_region = c.join(
        F.broadcast(
            n1.join(r, n1["n_regionkey"] == r["r_regionkey"]).select("n_nationkey")
        ),
        c["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey")
    vol = _rev()
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(cust_region, o["o_custkey"] == F.col("c_custkey"))
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n1.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                        AND TIMESTAMP '1996-12-31 00:00:00'
)
GROUP BY o_year
ORDER BY o_year
"""


# -- Q9: product profit by nation/year ----------------------------------------


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted (no partsupp/supplycost in this schema):
    amount = discounted revenue for name-matched parts, grouped by
    supplier nation × order year."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(_rev()), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE p_name LIKE '%red%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# -- Q12: shipping-delay priority split ---------------------------------------


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted (no shipmode/receipt dates): lines
    bucketed by ship delay vs order date; per bucket, count critical-
    vs other-priority orders — the same conditional two-counter agg."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    # Epoch-second subtraction, not datediff: a timestamp→long cast is a
    # fixed UTC-instant difference, immune to session-timezone date casts
    # and to day-boundary-counting differences across SQL engines.
    as_s = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    delay = as_s("l_shipdate") - as_s("o_orderdate")
    bucket = (
        F.when(delay > 90 * 86400, "late")
        .when(delay > 30 * 86400, "slow")
        .otherwise("fast")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


Q12_SQL = """
SELECT CASE WHEN epoch(l_shipdate) - epoch(o_orderdate) > 90 * 86400
            THEN 'late'
            WHEN epoch(l_shipdate) - epoch(o_orderdate) > 30 * 86400
            THEN 'slow'
            ELSE 'fast' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
ORDER BY ship_bucket
"""


# -- Q13: customer order-count distribution -----------------------------------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of orders-per-customer (left join so
    zero-order customers count), excluding low-priority orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -- Q15: top supplier(s) by quarterly revenue --------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view over one quarter, then the supplier(s)
    achieving the max — the scalar-subquery shape (1-row max crossJoin,
    no single-partition window)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_rev()), 2).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


QUERIES = {
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q12_late_shipments": q12_late_shipments,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
}

ORACLES = {
    "q7_nation_volume": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q12_late_shipments": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
}


# -- Q16: supplier counts by part attributes ----------------------------------


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape adapted (supply relation = observed lineitem
    pairs, complaint filter = negative account balance): distinct
    supplier count per (brand, type, size) for non-excluded parts."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    l = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(bad, l["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# -- Q17: small-quantity revenue ----------------------------------------------


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders
    (below 20% of the part's average quantity) were not filled. The
    correlated per-part average is a window over the SAME joined slice —
    not an aggregate + self-join, which would execute the part⋈lineitem
    join twice (each self-join side re-runs its upstream; see SCALE.md).
    One scan, one shuffle on l_partkey, per-part window state is one
    running (sum, count)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    l = _t(spark, sf_dir, "lineitem")
    lp = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    qty_cut = F.avg("l_quantity").over(Window.partitionBy("l_partkey")) * 0.2
    return (
        lp.withColumn("qty_cut", qty_cut)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity)
    FROM lineitem l2 JOIN part p2 ON p2.p_partkey = l2.l_partkey
    WHERE l2.l_partkey = lineitem.l_partkey AND p2.p_brand = 'Brand#23'
  )
"""


# -- Q19: discounted revenue (OR-of-conjuncts pushdown) -----------------------


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three OR'd (brand, size-range,
    quantity-range) conjunct groups — the classic complex-predicate
    pushdown test, one broadcast-able dimension join."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    j = l.join(p, l["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(F.round(F.sum(_rev()), 2).alias("revenue"))


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# -- Q21: suppliers who kept orders waiting -----------------------------------


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted (lateness = shipped >60 days after order
    date; no commit/receipt dates): for finished orders, suppliers whose
    line was late while some OTHER supplier's line was on time and no
    OTHER supplier was late.

    The textbook form is a semi-join + anti-join against two more copies
    of the same lineitem⋈orders relation — three executions of the fact
    join. Here the double-correlated exists/not-exists collapses into
    ONE per-order aggregate: "no other late supplier" ⟺ the order has
    exactly one distinct late supplier, and "some other on-time
    supplier" is a distinct-count + identity check. One pass, two
    shuffles (orderkey, then suppkey)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # epoch-second subtraction (not datediff): invariant to session
    # timezone and per-engine day-boundary semantics — see q12
    _sec = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    late = (_sec("l_shipdate") - _sec("o_orderdate")) > 60 * 86400
    ld = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    # two-level aggregate instead of two conditional countDistincts: a
    # multi-distinct agg plans an Expand that triples every row through
    # the shuffle; per-(order, supplier) partials then a plain per-order
    # roll-up carry each pair once and produce identical values
    # (the exists/not-exists oracle pins the equivalence)
    per_os = ld.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("has_late"),
        F.max((~F.col("late")).cast("int")).alias("has_ontime"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late_lines"),
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.sum("has_late").alias("n_late_supp"),
        F.max(F.when(F.col("has_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("n_late_lines").alias("late_lines"),
        F.sum("has_ontime").alias("n_ontime_supp"),
        F.max(F.when(F.col("has_ontime") == 1, F.col("l_suppkey"))).alias(
            "some_ontime_supp"
        ),
    )
    waiting = per_order.filter(
        (F.col("n_late_supp") == 1)
        & (
            (F.col("n_ontime_supp") >= 2)
            | (
                (F.col("n_ontime_supp") == 1)
                & (F.col("some_ontime_supp") != F.col("late_supp"))
            )
        )
    )
    return (
        waiting.join(s, F.col("late_supp") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


Q21_SQL = """
WITH ld AS (
  SELECT l_orderkey, l_suppkey,
         epoch(l_shipdate) - epoch(o_orderdate) > 60 * 86400 AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM ld l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM ld l2 WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey AND NOT l2.late)
  AND NOT EXISTS (SELECT 1 FROM ld l3 WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# -- Q22: idle high-balance customers -----------------------------------------


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape adapted (country code → nation key): customers
    with above-average positive balance and NO orders since 1999,
    counted per nation — scalar subquery + anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


Q22_SQL = """
SELECT c_nationkey AS nationkey, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY nationkey
"""


# -- Q2: cheapest observed supplier per part ----------------------------------


def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted (no partsupp: the supply relation is the
    observed (part, supplier) unit price from lineitem): for STANDARD
    size-15 parts, the EUROPE supplier(s) offering the minimum unit
    price — correlated-min as a per-part window over the joined offers
    (an aggregate + self-join would run the whole join twice); nation
    and region broadcast, everything else AQE."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") == 15)
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_nations = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", "n_name"
        )
    )
    eur_sup = s.join(eur_nations, s["s_nationkey"] == F.col("n_nationkey"))
    offers = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(eur_sup, l["l_suppkey"] == eur_sup["s_suppkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "s_acctbal",
            "n_name",
            # explicit floor(x*1e4 + 0.5)/1e4, not round(): at an exact
            # 4-dp tie Spark's decimal HALF_UP and DuckDB's float
            # rounding disagree on the binary value just below the tie
            # (caught by the sf0.001 sweep: 26.24125 -> .2412 vs .2413)
            (
                F.floor(
                    F.col("l_extendedprice") / F.col("l_quantity") * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("unit_price"),
        )
    )
    min_price = F.min("unit_price").over(Window.partitionBy("p_partkey"))
    return (
        offers.withColumn("min_price", min_price)
        .filter(F.col("unit_price") == F.col("min_price"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_price"
        )
        .distinct()
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH offers AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         floor(l_extendedprice / l_quantity * 10000.0 + 0.5) / 10000.0
           AS unit_price
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE p_type = 'STANDARD' AND p_size = 15 AND r_name = 'EUROPE'
)
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price
FROM offers o
WHERE unit_price = (SELECT min(unit_price) FROM offers i
                    WHERE i.p_partkey = o.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


QUERIES.update(
    {
        "q16_supplier_counts": q16_supplier_counts,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "q22_idle_customers": q22_idle_customers,
        "q2_min_price_supplier": q2_min_price_supplier,
    }
)

ORACLES.update(
    {
        "q16_supplier_counts": Q16_SQL,
        "q17_small_qty_revenue": Q17_SQL,
        "q19_discounted_revenue": Q19_SQL,
        "q21_waiting_suppliers": Q21_SQL,
        "q22_idle_customers": Q22_SQL,
        "q2_min_price_supplier": Q2_SQL,
    }
)


# -- Q11: important-stock value concentration (adapted) -----------------------


def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted (no partsupp): per-part shipped value
    (extendedprice x (1-discount)) from suppliers of one nation, keeping
    parts whose value exceeds 0.1% of that nation's total — the same
    group-aggregate + global-fraction-threshold (scalar subquery) shape.
    The 1-row grand total is broadcast, never a driver round-trip."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_lines = (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", _rev().alias("_v"))
    )
    per_part = nat_lines.groupBy("l_partkey").agg(F.sum("_v").alias("_pv"))
    total = per_part.agg(F.sum("_pv").alias("_tv"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_pv") > 0.001 * F.col("_tv"))
        .select("l_partkey", F.round("_pv", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


Q11_SQL = """
WITH nat_lines AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS v
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
),
per_part AS (
  SELECT l_partkey, sum(v) AS pv FROM nat_lines GROUP BY l_partkey
)
SELECT l_partkey, round(pv, 2) AS part_value
FROM per_part
WHERE pv > 0.001 * (SELECT sum(pv) FROM per_part)
ORDER BY part_value DESC, l_partkey
"""


# -- Q20: shipment concentration by year (adapted) ----------------------------


def q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (no partsupp/availqty): suppliers that
    shipped more than a fifth of their all-time quantity of 'red' parts
    during 1996 (uniform shipdates over ~7 years make 1/7 the neutral
    share, so 0.2 marks real concentration and yields rows at every
    SF) — the correlated fraction-of-total comparison becomes one
    conditional aggregate per supplier; the name join stays a plain
    equi-join (AQE decides the strategy, supplier scales with SF)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = _t(spark, sf_dir, "supplier")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01")) & (
        F.col("l_shipdate") < F.lit("1997-01-01")
    )
    per_supp = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(in96, F.col("l_quantity")).otherwise(0.0)).alias("_q96"),
            F.sum("l_quantity").alias("_qall"),
        )
        .filter((F.col("_qall") > 0) & (F.col("_q96") > 0.2 * F.col("_qall")))
    )
    return (
        per_supp.join(s, per_supp["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round("_q96", 2).alias("qty_1996"),
            F.round("_qall", 2).alias("qty_total"),
        )
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                  THEN l_quantity ELSE 0.0 END) AS q96,
         sum(l_quantity) AS qall
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(q96, 2) AS qty_1996, round(qall, 2) AS qty_total
FROM per_supp
JOIN supplier ON s_suppkey = l_suppkey
WHERE qall > 0 AND q96 > 0.2 * qall
ORDER BY s_suppkey
"""


QUERIES.update(
    {
        "q11_value_concentration": q11_value_concentration,
        "q20_concentrated_suppliers": q20_concentrated_suppliers,
    }
)

ORACLES.update(
    {
        "q11_value_concentration": Q11_SQL,
        "q20_concentrated_suppliers": Q20_SQL,
    }
)


# -- Bloom-filter semi-join pruning (runtime filter) --------------------------


def orders_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime filter (operators/bloomjoin.py): orders pre-filtered
    by a 2^16-bit / 4-probe filter built from BUILDING-segment customer
    keys, next to the exact semi-join counts — at scale only the bloom
    survivors pay the join shuffle, and the oracle rebuilds the
    identical filter so the (deterministic) false-positive set matches
    exactly."""
    from ..operators import bloomjoin as BJ

    from ..operators.util import fan_out

    # fan_out: the 4 md5 probes per row are CPU-bound, and a single-file
    # orders scan would evaluate them all on one task (measured 0.84 s of
    # the query's 1.24 s serialized on one core at sf0.1); at real scale
    # the scan arrives well-split and this is a no-op
    o = fan_out(_t(spark, sf_dir, "orders"))
    # no .distinct(): c_custkey is the customer PK, and bloom insertion
    # is idempotent anyway — the exchange would buy nothing
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # built on every call (one bounded bit_or aggregate): a table carried
    # over from an earlier call would miss customers added since, and a
    # bloom filter must never reject an inserted key
    words = BJ.bloom_build(dim, "c_custkey")
    passed = BJ.might_contain(F.col("o_custkey"), words)
    # ONE orders scan: the bloom probe is a scan-side expression and the
    # exact membership mark a broadcast join, so both counts fold into a
    # single 5-group aggregation (was: two scans, two aggs, a join)
    joined = o.join(
        F.broadcast(dim), o["o_custkey"] == dim["c_custkey"], "left"
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(passed, 1)).alias("n_bloom_pass"),
            F.count("c_custkey").cast("long").alias("n_true_match"),
        )
        .filter(F.col("n_bloom_pass") > 0)
        .orderBy("o_orderpriority")
    )


def _bloom_sql() -> str:
    from ..operators.bloomjoin import mask_sql

    n_bits = 1 << 16
    dpos = (
        "(('0x' || substr(md5('bloom:' || j || ':' "
        f"|| CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT & {n_bits - 1})"
    )
    opos = (
        "(('0x' || substr(md5('bloom:' || j || ':' "
        f"|| CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT & {n_bits - 1})"
    )
    m = mask_sql("pos & 63")
    return f"""
WITH dim AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
js AS (SELECT j FROM (VALUES (0), (1), (2), (3)) t(j)),
words AS (
  SELECT pos >> 6 AS w, bit_or({m}) AS bits
  FROM (SELECT {dpos} AS pos FROM dim CROSS JOIN js)
  GROUP BY 1
),
opos AS (
  SELECT o_orderkey, o_orderpriority, {opos} AS pos
  FROM orders CROSS JOIN js
),
hits AS (
  SELECT o_orderkey, min(o_orderpriority) AS o_orderpriority
  FROM opos JOIN words ON (pos >> 6) = w AND (bits & {m}) <> 0
  GROUP BY o_orderkey HAVING count(*) = 4
),
npass AS (
  SELECT o_orderpriority, count(*) AS n_bloom_pass FROM hits GROUP BY 1
),
ntrue AS (
  SELECT o_orderpriority, count(*) AS n_true_match
  FROM orders WHERE o_custkey IN (SELECT c_custkey FROM dim)
  GROUP BY 1
)
SELECT npass.o_orderpriority, n_bloom_pass,
       CAST(coalesce(n_true_match, 0) AS BIGINT) AS n_true_match
FROM npass LEFT JOIN ntrue USING (o_orderpriority)
ORDER BY o_orderpriority
"""


ORDERS_BLOOM_SQL = _bloom_sql()

QUERIES.update({"orders_bloom_pruned": orders_bloom_pruned})
ORACLES.update({"orders_bloom_pruned": ORDERS_BLOOM_SQL})


# -- Data-contract validation + profiling (operators/validate.py) -------------


def orders_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation checks over orders as ONE wide conditional aggregate
    (one scan however many rules; null predicate = violation) — the
    generalized form of the reference's hard-coded dangling-endpoint
    check."""
    from ..operators import validate as V

    o = _t(spark, sf_dir, "orders")
    return V.check(
        o,
        {
            "custkey_not_null": F.col("o_custkey").isNotNull(),
            "orderdate_not_null": F.col("o_orderdate").isNotNull(),
            "priority_in_domain": F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
            "totalprice_positive": F.col("o_totalprice") > 0,
        },
    )


def _violation(pred: str) -> str:
    return f"sum(CASE WHEN coalesce(({pred}), FALSE) THEN 0 ELSE 1 END)"


ORDERS_VALIDATION_SQL = f"""
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (
  SELECT 'custkey_not_null' AS rule,
         {_violation('o_custkey IS NOT NULL')} AS n_violations,
         count(*) AS n_rows FROM orders
  UNION ALL
  SELECT 'orderdate_not_null', {_violation('o_orderdate IS NOT NULL')},
         count(*) FROM orders
  UNION ALL
  SELECT 'priority_in_domain',
         {_violation("o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')")},
         count(*) FROM orders
  UNION ALL
  SELECT 'totalprice_positive', {_violation('o_totalprice > 0')},
         count(*) FROM orders
)
ORDER BY rule
"""


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile (nulls / exact distinct / min / max)
    of the orders relation — the load-time sanity report."""
    from ..operators import validate as V

    o = _t(spark, sf_dir, "orders")
    return V.profile(
        o, ["o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus"]
    )


def _profile_col_sql(c: str) -> str:
    return f"""
  SELECT '{c}' AS "column", count(*) AS n_rows,
         sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_null,
         count(DISTINCT {c}) AS n_distinct,
         CAST(min({c}) AS VARCHAR) AS min_value,
         CAST(max({c}) AS VARCHAR) AS max_value
  FROM orders
"""


ORDERS_PROFILE_SQL = (
    "SELECT \"column\", CAST(n_rows AS BIGINT) AS n_rows, "
    "CAST(n_null AS BIGINT) AS n_null, CAST(n_distinct AS BIGINT) AS n_distinct, "
    "min_value, max_value FROM ("
    + " UNION ALL ".join(
        _profile_col_sql(c)
        for c in [
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
        ]
    )
    + ') ORDER BY "column"'
)

QUERIES.update(
    {
        "orders_validation": orders_validation,
        "orders_profile": orders_profile,
    }
)
ORACLES.update(
    {
        "orders_validation": ORDERS_VALIDATION_SQL,
        "orders_profile": ORDERS_PROFILE_SQL,
    }
)


# -- Part affinity (market-basket lift) ---------------------------------------


def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top-20 part pairs by lift —
    ``p(a,b) / (p(a)·p(b))`` over order baskets, support ≥ 3 baskets.
    The pair expansion is the degree-bounded co-order join (the same
    shape as the triangle edge build); supports are one bounded
    aggregate each; lift arithmetic is identical in both engines and
    the output is rounded via the floor form (tie-proof)."""
    l = _t(spark, sf_dir, "lineitem")
    op = l.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n_orders = op.select("o").distinct().count()
    supp = op.groupBy("p").agg(F.count("*").alias("n"))
    pairs = (
        op.alias("a")
        .join(op.alias("b"), on="o")
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    sa = supp.select(F.col("p").alias("pa"), F.col("n").alias("n_a"))
    sb = supp.select(F.col("p").alias("pb"), F.col("n").alias("n_b"))
    lift = (
        F.col("n_ab") * F.lit(float(n_orders)) / (F.col("n_a") * F.col("n_b"))
    )
    return (
        pairs.join(sa, on="pa")
        .join(sb, on="pb")
        .select(
            "pa",
            "pb",
            "n_ab",
            (F.floor(lift * 1e6 + F.lit(0.5)) / 1e6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(20)
    )


PART_AFFINITY_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
tot AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n_orders FROM op),
supp AS (SELECT p, count(*) AS n FROM op GROUP BY p),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT pa, pb, n_ab,
       floor(n_ab * tot.n_orders / (sa.n * sb.n) * 1000000.0 + 0.5)
         / 1000000.0 AS lift
FROM pairs
JOIN supp sa ON sa.p = pa
JOIN supp sb ON sb.p = pb
CROSS JOIN tot
ORDER BY lift DESC, pa, pb
LIMIT 20
"""

QUERIES.update({"part_affinity_lift": part_affinity_lift})
ORACLES.update({"part_affinity_lift": PART_AFFINITY_SQL})
