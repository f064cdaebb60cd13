"""Round-out coverage: weighted shortest path and two more
TPC-H-pattern queries. All oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.graph import algorithms as GA
from herodb_spark.graph import edges as GE


def graph_weighted_sssp(spark: SparkSession, sf_dir: str, edges=None) -> DataFrame:
    """Weighted shortest path from nation 0 over the SPARSE trade
    graph (top-3 out-edges — the full graph is near-complete, which
    makes the oracle's path recursion explode combinatorially:
    24^8 ≈ 1e11 paths vs 3^8 = 6561); edge cost = 1/w scaled to an
    integer 'latency' so costs are exact across engines. Bounded
    Bellman-Ford: 8 relaxation rounds — the SAME bound as
    graphops.HOPS_BOUND, so graph_seed_paths' inner join of the two
    reachable sets cannot silently drop a node discovered at hop 7-8
    by only one of them."""
    e = GE.sparse_weighted_edges(spark, sf_dir, edges)
    # integer cost: bigger trade volume → cheaper edge; exact arithmetic
    # explicit floor: DuckDB '/' is float division and its double→int
    # cast rounds, Spark's truncates — floor pins both to the same value
    edges = e.select(
        "src", "dst", F.floor(F.lit(1_000_000) / F.col("w")).cast("long").alias("cost")
    ).localCheckpoint(eager=True)
    spark_dtype = dict(edges.dtypes)["src"]
    init = spark.createDataFrame([(0, 0)], "node int, dist long").withColumn(
        "node", F.col("node").cast(spark_dtype)
    )

    # one Bellman-Ford relaxation round as a full-state transformer,
    # run through the general re-aggregate fixpoint operator; 8 rounds
    # bounds it to the oracle's depth-8 path recursion (early
    # convergence ≤ 8 rounds yields the identical state)
    def relax(dist):
        return (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("cost")).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    # statically-bounded relaxation: the oracle unrolls the SAME 8
    # rounds and extra rounds are idempotent, so skip the per-round
    # change probes (2 jobs/round — they dominated this operator's
    # correctness-gate latency)
    return GA.fixpoint(relax, init, max_iters=8, probe_change=False).orderBy("node")


GRAPH_WEIGHTED_SSSP_SQL = (
    "WITH RECURSIVE "
    + GE.SPARSE_W_SQL
    + """
, wedges AS (
  SELECT src, dst, CAST(FLOOR(1000000 / w) AS BIGINT) AS cost FROM sparse_w
),
paths(node, dist, depth) AS (
  SELECT 0, CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, p.dist + e.cost, p.depth + 1
  FROM wedges e, paths p
  WHERE e.src = p.node AND p.depth < 8
)
SELECT node, MIN(dist) AS dist FROM paths GROUP BY node ORDER BY node
"""
)


def tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 pattern: revenue lost to returned items per customer
    in a quarter; top 20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 pattern: shipping volume between two nations by year."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("supp_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("cust_nk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(volume), 2).cast("double").alias("volume"))
        .where(F.col("volume") > 50000)
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, volume FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name < n2.n_name
  GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
)
WHERE volume > 50000
ORDER BY supp_nation, cust_nation, l_year
"""


def tpch_q7_q10_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of tpch_q7 + tpch_q10 (same tag-union contract
    as plans/tpch.py q4_q6_q12_union: both are the union's own
    building blocks, one function each; the union earns both a
    driver-graded hash row in one slot). Each constituent plan — Q7's two-nation
    nation-join chain, Q10's returned-revenue top-20 — executes
    unchanged inside its union branch."""
    q7 = tpch_q7_nation_volume(spark, sf_dir).select(
        F.lit("q7").alias("q"),
        F.col("supp_nation").alias("k1"),
        F.col("cust_nation").alias("k2"),
        F.col("l_year").cast("string").alias("k3"),
        F.col("volume").alias("v"),
    )
    q10 = tpch_q10_returned_revenue(spark, sf_dir).select(
        F.lit("q10").alias("q"),
        F.col("c_custkey").cast("string").alias("k1"),
        F.col("c_name").alias("k2"),
        F.col("n_name").alias("k3"),
        F.col("revenue").alias("v"),
    )
    return q7.unionByName(q10).orderBy("q", "k1", "k2", "k3")


TPCH_Q7_Q10_SQL = f"""
SELECT 'q7' AS q, supp_nation AS k1, cust_nation AS k2, CAST(l_year AS VARCHAR) AS k3, volume AS v
FROM ({TPCH_Q7_SQL})
UNION ALL
SELECT 'q10' AS q, CAST(c_custkey AS VARCHAR) AS k1, c_name AS k2, n_name AS k3, revenue AS v
FROM ({TPCH_Q10_SQL})
ORDER BY q, k1, k2, k3
"""


# ------------------------------------------------------------ bucketed range join

RJ_BUCKET_W = 50.0   # coarse bucket width for the interval index
RJ_N_TIERS = 24      # synthetic interval table size
RJ_TIER_W = 30.0     # each tier covers [i*20, i*20 + 30) — overlapping


def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED RANGE JOIN — the point-in-interval join Spark has no
    native operator for (IP→geo lookup, price→tier banding, time→SLA
    window): events.value joined into OVERLAPPING value tiers
    [i·20, i·20+30). The naive plan is a broadcast-nested-loop theta
    join (work ∝ |events|·|tiers| — dead at 100 TB); the scalable
    composition is the classic COARSE-BUCKET expansion:

    - each interval is exploded onto the RJ_BUCKET_W-wide buckets it
      overlaps (interval side grows by ~⌈len/W⌉×, a constant);
    - each point maps to exactly ONE bucket (floor(value / W));
    - the join is a plain EQUI-join on the bucket key (shuffle or
      broadcast, Catalyst's choice) followed by the exact range
      filter inside matched buckets.

    Work ∝ matches + bucket collisions, never |points|×|intervals|;
    bucket width trades index size against collision filtering.
    Output: per-tier matched-event count + exact value sum in cents
    (all-integer hash: value·100 rounded per row before the Σ).

    The tier table is synthesized in-plan (sequence → explode) so the
    oracle can rebuild it; a real deployment reads it from a dim
    table — the join shape is identical."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("v")
    )
    tiers = spark.range(RJ_N_TIERS).select(
        F.col("id").cast("int").alias("tier"),
        (F.col("id") * 20.0).alias("lo"),
        (F.col("id") * 20.0 + RJ_TIER_W).alias("hi"),
    )
    # interval side: one row per coarse bucket the tier overlaps
    tier_buckets = tiers.select(
        "tier",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / RJ_BUCKET_W).cast("long"),
                # hi is EXCLUSIVE: a tier ending exactly on a bucket
                # boundary must not index the next bucket
                F.floor((F.col("hi") - 1e-9) / RJ_BUCKET_W).cast("long"),
            )
        ).alias("bucket"),
    )
    pts = ev.withColumn("bucket", F.floor(F.col("v") / RJ_BUCKET_W).cast("long"))
    cents = F.round(F.col("v") * 100).cast("long")
    return (
        pts.join(F.broadcast(tier_buckets), "bucket")
        .where((F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )
        .orderBy("tier")
    )


RANGE_JOIN_BUCKETED_SQL = f"""
WITH tiers AS (
  SELECT CAST(i AS INT) AS tier, i * 20.0 AS lo, i * 20.0 + {RJ_TIER_W} AS hi
  FROM generate_series(0, {RJ_N_TIERS - 1}) t(i)
)
SELECT t.tier,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY t.tier ORDER BY t.tier
"""
