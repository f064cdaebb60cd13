"""Relational core: the herodb Datalog rule surface re-expressed as
Catalyst plans.

Reference semantics (Kernel/Drafts/draft):
- a rule body `T(a,b), U(b,c), pred(a,c)` is a conjunctive query →
  joins + filters (draft:55-66, 102-117);
- `exists`/`not` over a subgoal → semi/anti join (draft:108);
- multiple `case` bodies for one head → UNION (draft:84-87);
- query results are sets → DISTINCT (Datalog set semantics);
- `if b then x else y` boolean expr → CASE WHEN (draft:107);
- pattern matching over union types → CASE dispatch on a tag column
  (draft:124-131).

All operators here are pure DataFrame compositions — no UDFs — so
Catalyst gets full pushdown/pruning/join-reordering freedom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table


def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed scan analog: `index Ordered(name)` lookup (draft:44-47).
    Filter + projection both reach the parquet scan (PushedFilters /
    ReadSchema pruning) — the Spark equivalent of an index range scan.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.where((F.col("p_size") >= 10) & (F.col("p_size") <= 20) & (F.col("p_type").startswith("SMALL")))
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


SCAN_FILTER_PROJECT_SQL = """
SELECT p_partkey, p_name, p_size, p_retailprice
FROM part
WHERE p_size BETWEEN 10 AND 20 AND p_type LIKE 'SMALL%'
ORDER BY p_partkey
"""


def datalog_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-derived table via self-join, the `Spouses(h,w) :-
    Parents(c,h),Parents(c,w)` pattern (draft:55-66):

        CoPurchase(p1, p2, n) :- Lineitem(o, p1), Lineitem(o, p2), p1 < p2

    Self-joins shuffle once on l_orderkey; both sides share the scan.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey")) & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("part1"), F.col("b.l_partkey").alias("part2"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
        .orderBy("part1", "part2")
    )


DATALOG_SELFJOIN_SQL = """
SELECT a.l_partkey AS part1, b.l_partkey AS part2, COUNT(*) AS n_orders
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING COUNT(*) >= 2
ORDER BY part1, part2
"""


def multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-predicate rule body (draft:102-117): 5-way join
    lineitem⋈orders⋈customer⋈nation⋈region; nation/region
    hint-broadcast, customer AQE-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2).cast("double").alias("total_qty"),
        )
        .orderBy("r_name")
    )


MULTIWAY_JOIN_SQL = """
SELECT r_name, COUNT(*) AS n_lineitems,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exists` + `not` subgoals (draft:108, 142-146) in one derived
    table: a left semi join (no row multiplication) and a left anti
    join. Both rule heads share the (key, name, attr) shape, so the
    union is natural:

        Interesting(k,n,a,'exists_urgent_customer') :- Customer(...), exists Orders(urgent)
        Interesting(k,n,a,'never_ordered_part')     :- Part(...), not Lineitem(...)
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    semi = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select(
            F.lit("exists_urgent_customer").alias("rule"),
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("attr"),
        )
    )
    anti = (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .select(
            F.lit("never_ordered_part").alias("rule"),
            F.col("p_partkey").alias("key"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("attr"),
        )
    )
    return semi.unionByName(anti).orderBy("rule", "key")


SEMI_ANTI_JOIN_SQL = """
SELECT * FROM (
  SELECT 'exists_urgent_customer' AS rule, c_custkey AS key, c_name AS name, c_mktsegment AS attr
  FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
  UNION ALL
  SELECT 'never_ordered_part', p_partkey, p_name, p_brand
  FROM part
  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
) ORDER BY rule, key
"""


def union_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple rule cases for one head (draft:84-87):
    HighValue(k, src) :- Orders(k, price>X)  |  Customer(k, bal>Y),
    under Datalog set semantics (DISTINCT)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey"), F.lit("big_order").alias("src")
    )
    b = cust.where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey"), F.lit("rich_balance").alias("src")
    )
    return a.unionByName(b).distinct().orderBy("custkey", "src")


UNION_CASES_SQL = """
SELECT DISTINCT * FROM (
  SELECT o_custkey AS custkey, 'big_order' AS src FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT c_custkey AS custkey, 'rich_balance' AS src FROM customer WHERE c_acctbal > 9000
) ORDER BY custkey, src
"""


def pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-type pattern matching (draft:124-131) + if-then-else
    boolean expr (draft:107, CASE WHEN tiering) in one derived table.
    Events form a tagged
    union on event_type; dispatch computes a per-variant value
    (`purchase{v} → v; error{} → 0; _ → v/2`), and the if-then-else
    tiers each event's raw value; aggregation is per (variant, tier).
    """
    events = load_table(spark, sf_dir, "events")
    dispatched = (
        F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,4)"))
        .when(F.col("event_type") == "error", F.lit(0).cast("decimal(18,4)"))
        .otherwise((F.col("value").cast("decimal(18,4)") / 2).cast("decimal(18,4)"))
    )
    tier = (
        F.when(F.col("value") > 66, F.lit("high"))
        .when(F.col("value") > 33, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    return (
        events.select(F.col("event_type"), tier.alias("tier"), dispatched.alias("val"))
        .groupBy("event_type", "tier")
        .agg(
            F.round(F.sum("val"), 2).cast("double").alias("total_val"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type", "tier")
    )


PATTERN_MATCH_SQL = """
SELECT event_type,
       CASE WHEN value > 66 THEN 'high' WHEN value > 33 THEN 'mid' ELSE 'low' END AS tier,
       CAST(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4))
                           WHEN event_type = 'error' THEN CAST(0 AS DECIMAL(18,4))
                           ELSE CAST(CAST(value AS DECIMAL(18,4)) / 2 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS total_val,
       COUNT(*) AS n
FROM events GROUP BY event_type, tier ORDER BY event_type, tier
"""
