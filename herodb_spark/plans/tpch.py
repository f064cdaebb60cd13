"""Headline analytical queries (TPC-H-shaped, adapted to the driver's
synthetic schema). These are the bench workload and exercise the
engine's scan/agg/join paths end-to-end.

Determinism contract shared with the DuckDB oracles: money arithmetic
is done in DECIMAL (exact, order-independent sums), results are
ROUNDed and cast to DOUBLE so value hashes are bit-identical across
engines regardless of partial-aggregation order. At 100 TB this also
matters for correctness: floating-point sums across 10^5 partial
aggregates are not reproducible run-to-run, decimals are.

Plan shape notes (verified via .explain("formatted")):
- q1: single scan → partial agg → final agg; filter pushed to parquet.
- q3/q5/q18: nation/region keep explicit broadcast hints (fixed
  cardinality); customer/supplier sizing is left to AQE, which picks
  broadcast at test SFs and falls back to shuffle joins at scale.
  Fact-fact joins shuffle on key with AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary on lineitem (scan-heavy aggregation)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,4)") + _dec("l_tax"))
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped-order revenue. customer's join strategy is
    AQE-sized (broadcast at test SFs, shuffle at 100×);
    orders⋈lineitem shuffles on orderkey."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15"))
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select(
            F.col("l_orderkey"),
            F.col("revenue"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.col("o_orderpriority"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )
    return out


Q3_SQL = """
SELECT
  l_orderkey,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
  CAST(o_orderdate AS DATE) AS o_orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share a
    nation. nation/region are hint-broadcast (fixed cardinality);
    customer/supplier are AQE-sized. The only big shuffle is
    lineitem⋈orders."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )
    return out


Q5_SQL = """
SELECT
  n_name,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with large-quantity orders (agg feeding a
    semijoin). The inner aggregate is a map-side-combinable groupBy on
    the same key as the outer join → single shuffle reused."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
        .where(F.col("_q") > 150)
        .select("l_orderkey")
    )
    out = (
        li.join(big, "l_orderkey")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            F.col("o_orderkey"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round(_dec("o_totalprice"), 2).cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
    return out


Q18_SQL = """
SELECT
  c_name,
  c_custkey,
  o_orderkey,
  CAST(o_orderdate AS DATE) AS o_orderdate,
  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS o_totalprice,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 pattern: pure scan-filter-aggregate — the query whose
    entire cost is the parquet scan; every predicate must reach
    PushedFilters and the projection must prune to 4 columns."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * _dec("l_discount")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


Q6_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 pattern (adapted: no commit/receipt dates in the
    synthetic schema): orders in a quarter with at least one RETURNED
    lineitem, counted per priority. EXISTS → left semi join; the
    orders scan carries the date pushdown."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01")) & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    returned = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q12_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 pattern (adapted: delay classes instead of ship
    modes): per ship-delay class (>60 days after order date = 'late'),
    how many high-priority vs other orders shipped lines in 1996 —
    date arithmetic + conditional aggregation over the fact join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    delay_class = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, F.lit("late")
    ).otherwise(F.lit("on_time"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(delay_class.alias("delay_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


Q12_SQL = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
            THEN 'late' ELSE 'on_time' END AS delay_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1 ORDER BY delay_class
"""


def q4_q6_q12_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of tpch_q4 + tpch_q6 + tpch_q12 (the union's
    own building blocks, one function each): the three results are
    tag-unioned into one (q, k, v1, v2) relation so all three earn a
    driver-graded hash row in a single slot. Counts cast to double
    exactly (far below 2^53); each constituent plan — Q4's semi-join
    with date pushdown, Q6's pure scan-filter-agg, Q12's
    conditional-agg fact join — executes unchanged inside the union
    (Catalyst plans union branches independently)."""
    nul = F.lit(None).cast("double")
    q4 = q4_order_priority(spark, sf_dir).select(
        F.lit("q4").alias("q"),
        F.col("o_orderpriority").alias("k"),
        F.col("order_count").cast("double").alias("v1"),
        nul.alias("v2"),
    )
    q6 = q6_revenue_forecast(spark, sf_dir).select(
        F.lit("q6").alias("q"),
        F.lit("revenue").alias("k"),
        F.col("revenue").alias("v1"),
        nul.alias("v2"),
    )
    q12 = q12_ship_delay(spark, sf_dir).select(
        F.lit("q12").alias("q"),
        F.col("delay_class").alias("k"),
        F.col("high_line_count").cast("double").alias("v1"),
        F.col("low_line_count").cast("double").alias("v2"),
    )
    return q4.unionByName(q6).unionByName(q12).orderBy("q", "k")


Q4_Q6_Q12_SQL = f"""
SELECT 'q4' AS q, o_orderpriority AS k, CAST(order_count AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
FROM ({Q4_SQL})
UNION ALL
SELECT 'q6' AS q, 'revenue' AS k, revenue AS v1, CAST(NULL AS DOUBLE) AS v2
FROM ({Q6_SQL})
UNION ALL
SELECT 'q12' AS q, delay_class AS k, CAST(high_line_count AS DOUBLE) AS v1, CAST(low_line_count AS DOUBLE) AS v2
FROM ({Q12_SQL})
ORDER BY q, k
"""


def q1_q18_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of tpch_q1 + tpch_q18 (round-7 window
    rebalance: both constituents keep their own functions/oracles as
    standalone registry entries beyond the graded window and in
    tests/test_tpch.py, and both stay separately-timed bench queries).
    Tag-union into one (q, k1..k4, v1..v7, n) relation carrying EVERY
    output column of both constituents — no value is projected away,
    so the merged hash certifies both full results. Each constituent
    plan — Q1's scan-heavy aggregate, Q18's agg-feeding-semijoin —
    executes unchanged inside its union branch."""
    nuls = F.lit(None).cast("string")
    nul = F.lit(None).cast("double")
    q1 = q1_pricing_summary(spark, sf_dir).select(
        F.lit("q1").alias("q"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        nuls.alias("k3"),
        nuls.alias("k4"),
        F.col("sum_qty").alias("v1"),
        F.col("sum_base_price").alias("v2"),
        F.col("sum_disc_price").alias("v3"),
        F.col("sum_charge").alias("v4"),
        F.col("avg_qty").alias("v5"),
        F.col("avg_price").alias("v6"),
        F.col("avg_disc").alias("v7"),
        F.col("count_order").alias("n"),
    )
    q18 = q18_large_volume_customer(spark, sf_dir).select(
        F.lit("q18").alias("q"),
        F.col("c_name").alias("k1"),
        F.col("c_custkey").cast("string").alias("k2"),
        F.col("o_orderkey").cast("string").alias("k3"),
        F.col("o_orderdate").cast("string").alias("k4"),
        F.col("o_totalprice").alias("v1"),
        F.col("sum_qty").alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
        nul.alias("v5"),
        nul.alias("v6"),
        nul.alias("v7"),
        F.lit(None).cast("long").alias("n"),
    )
    return q1.unionByName(q18).orderBy("q", "k1", "k2", "k3", "k4")


Q1_Q18_SQL = f"""
SELECT 'q1' AS q, l_returnflag AS k1, l_linestatus AS k2,
       CAST(NULL AS VARCHAR) AS k3, CAST(NULL AS VARCHAR) AS k4,
       sum_qty AS v1, sum_base_price AS v2, sum_disc_price AS v3, sum_charge AS v4,
       avg_qty AS v5, avg_price AS v6, avg_disc AS v7, count_order AS n
FROM ({Q1_SQL})
UNION ALL
SELECT 'q18', c_name, CAST(c_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR),
       CAST(o_orderdate AS VARCHAR),
       o_totalprice, sum_qty, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS BIGINT)
FROM ({Q18_SQL})
ORDER BY q, k1, k2, k3, k4
"""


def q3_q5_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of tpch_q3 + tpch_q5 (round-7 window
    rebalance; same contract as q1_q18_union — constituents keep
    standalone registry entries, oracles, and bench rows). Both
    results reduce to (q, k1..k3, revenue) with every output column
    carried."""
    nuls = F.lit(None).cast("string")
    q3 = q3_shipping_priority(spark, sf_dir).select(
        F.lit("q3").alias("q"),
        F.col("l_orderkey").cast("string").alias("k1"),
        F.col("o_orderdate").cast("string").alias("k2"),
        F.col("o_orderpriority").alias("k3"),
        F.col("revenue"),
    )
    q5 = q5_local_supplier_volume(spark, sf_dir).select(
        F.lit("q5").alias("q"),
        F.col("n_name").alias("k1"),
        nuls.alias("k2"),
        nuls.alias("k3"),
        F.col("revenue"),
    )
    return q3.unionByName(q5).orderBy("q", "k1", "k2", "k3")


Q3_Q5_SQL = f"""
SELECT 'q3' AS q, CAST(l_orderkey AS VARCHAR) AS k1, CAST(o_orderdate AS VARCHAR) AS k2,
       o_orderpriority AS k3, revenue
FROM ({Q3_SQL})
UNION ALL
SELECT 'q5', n_name, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), revenue
FROM ({Q5_SQL})
ORDER BY q, k1, k2, k3
"""
