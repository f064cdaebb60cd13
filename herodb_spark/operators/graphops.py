"""Graph operators wired to the nation trade graph, with recursive-CTE
DuckDB oracles. Seed node for traversals: nation 0."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.graph import algorithms as GA
from herodb_spark.graph import edges as GE

SEED = 0


def graph_degree(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> DataFrame:
    e = edges if edges is not None else GE.nation_trade_edges(spark, sf_dir)
    return GA.degrees(e).orderBy("node")


GRAPH_DEGREE_SQL = (
    "WITH "
    + GE.EDGES_SQL
    + """
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(o.out_deg, 0) AS out_deg,
       COALESCE(i.in_deg, 0) AS in_deg,
       CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
       CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w
FROM (SELECT src AS node, COUNT(*) AS out_deg, SUM(w) AS out_w FROM edges GROUP BY src) o
FULL OUTER JOIN (SELECT dst AS node, COUNT(*) AS in_deg, SUM(w) AS in_w FROM edges GROUP BY dst) i
  ON o.node = i.node
ORDER BY node
"""
)


def graph_two_hop(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> DataFrame:
    # materialize once: two_hop_counts uses the edge table in BOTH the
    # one-hop and two-hop branches, and the 4-table derivation must
    # not run twice (same discipline as graph_reachability/triangles)
    e = GE.sparse_edges(spark, sf_dir, edges).localCheckpoint(eager=True)
    return GA.two_hop_counts(e).orderBy("node")


GRAPH_TWO_HOP_SQL = (
    "WITH "
    + GE.SPARSE_SQL
    + """
, reach AS (
  SELECT src AS node, dst AS reach FROM sparse
  UNION
  SELECT a.src AS node, b.dst AS reach FROM sparse a JOIN sparse b ON a.dst = b.src
)
SELECT node, COUNT(*) AS n_reachable_2hop
FROM reach WHERE node <> reach GROUP BY node ORDER BY node
"""
)


def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the 75-row edge table once; BFS iterations must not
    # recompute the 4-table derivation join per hop
    e = GE.sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    return GA.reachable_set(e, SEED).orderBy("node")


GRAPH_REACHABILITY_SQL = (
    "WITH RECURSIVE "
    + GE.SPARSE_SQL
    + f"""
, r(node) AS (
  SELECT {SEED}
  UNION
  SELECT s.dst FROM sparse s, r WHERE s.src = r.node
)
SELECT node FROM r ORDER BY node
"""
)


# both engines pin the same search depth (graph_weighted_sssp shares
# the SAME 8-round bound so graph_seed_paths' inner join cannot drop
# a node reachable at hop 7-8 from only one side): the oracle's recursive CTE enumerates paths, so an
# unbounded depth explodes combinatorially, and a Spark-only deeper
# bound would silently diverge from the oracle if a node ever sat
# beyond it. Convergence within the bound is asserted in tests.
HOPS_BOUND = 8


def graph_shortest_hops(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> DataFrame:
    e = GE.sparse_edges(spark, sf_dir, edges).localCheckpoint(eager=True)
    return GA.shortest_hops(e, SEED, max_iters=HOPS_BOUND).orderBy("node")


GRAPH_SHORTEST_HOPS_SQL = (
    "WITH RECURSIVE "
    + GE.SPARSE_SQL
    + f"""
, p(node, hops) AS (
  SELECT {SEED}, 0
  UNION ALL
  SELECT s.dst, p.hops + 1 FROM sparse s, p WHERE s.src = p.node AND p.hops < {HOPS_BOUND}
)
SELECT node, CAST(MIN(hops) AS INT) AS hops FROM p GROUP BY node ORDER BY node
"""
)


def graph_connected_components(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> DataFrame:
    """Runs the O(log n)-round large-star/small-star contraction (the
    100-TB path); min-label propagation kept as the property-test
    baseline (tests/test_graph_extra.py)."""
    e = GE.undirected_sparse_edges(spark, sf_dir, edges).localCheckpoint(eager=True)
    return GA.connected_components_twophase(e).orderBy("node")


GRAPH_CC_SQL = (
    "WITH RECURSIVE "
    + GE.UNDIRECTED_SQL
    + """
, r(start, node) AS (
  SELECT src, src FROM undirected
  UNION
  SELECT r.start, u.dst FROM undirected u, r WHERE u.src = r.node
)
SELECT start AS node, MIN(node) AS comp FROM r GROUP BY start ORDER BY node
"""
)


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three-way self-join: materialize once instead of recomputing the
    # edge derivation per join branch
    e = GE.undirected_sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    return GA.triangle_count(e)


GRAPH_TRIANGLES_SQL = (
    "WITH "
    + GE.UNDIRECTED_SQL
    + """
, canon AS (SELECT DISTINCT src, dst FROM undirected WHERE src < dst)
SELECT COUNT(*) AS n_triangles
FROM canon ab
JOIN canon bc ON ab.dst = bc.src
JOIN canon ac ON ac.src = ab.src AND ac.dst = bc.dst
"""
)


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration PageRank over the sparse trade graph; all 25
    nations as the node set. The iteration count is static, so the
    oracle unrolls the 10 rank updates into chained (non-recursive)
    CTEs — this is a full hash-checked oracle, not rows-only.

    Submits no job: the returned plan is lazy and re-plans at the
    caller's settings. Only the edge extraction (the fact joins and
    the top-3 window) is a distributed plan; GA.pagerank's fold ranks
    the gathered 25-node graph inside one task, summing in sorted
    array order, so the ROUND(6)-gated ranks do not depend on the
    partition count or the core count."""
    from herodb_spark.catalog import load_table

    nodes = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    return GA.pagerank(nodes, GE.sparse_edges(spark, sf_dir), iters=10).orderBy("node")


def _pagerank_unrolled_sql(iters: int = 10, damping: float = 0.85) -> str:
    """DuckDB oracle mirroring GA.pagerank bit-for-bit: identical
    IEEE-double expression shapes per iteration (base + d*(c + dang/n)),
    ROUND(...,6) at the end. Static iteration count → plain chained
    CTEs, no recursion needed. Every per-iteration CTE is MATERIALIZED:
    r{{i}} is referenced twice (c and d of the next level), so without
    the fence DuckDB's CTE inlining duplicates the subtree 2^iters
    times and planning never finishes."""
    parts = [
        "WITH ",
        GE.SPARSE_SQL,
        ", nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation)",
        ", cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        ", deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM sparse GROUP BY src)",
        ", r0 AS MATERIALIZED (SELECT node, 1.0 / cnt.n AS rank FROM nodes, cnt)",
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f""",
c{i} AS MATERIALIZED (
  SELECT s.dst AS node, SUM(r.rank / g.deg) AS c
  FROM {prev} r JOIN deg g ON r.node = g.src JOIN sparse s ON s.src = r.node
  GROUP BY s.dst
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dang
  FROM {prev} r LEFT JOIN deg g ON r.node = g.src WHERE g.src IS NULL
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         (CAST(1.0 AS DOUBLE) - CAST({damping!r} AS DOUBLE)) / cnt.n
         + CAST({damping!r} AS DOUBLE) * (COALESCE(c.c, 0.0) + d.dang / cnt.n) AS rank
  FROM nodes n CROSS JOIN cnt CROSS JOIN d{i} d LEFT JOIN c{i} c ON n.node = c.node
)"""
        )
    parts.append(f"\nSELECT node, ROUND(rank, 6) AS rank FROM r{iters} ORDER BY node")
    return "".join(parts)


GRAPH_PAGERANK_SQL = _pagerank_unrolled_sql()


def graph_node_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of graph_degree + graph_two_hop +
    graph_connected_components + graph_kcore (the union's own building
    blocks, one function each): one wide per-node metrics row so
    all four per-node graph operators earn a driver-graded hash row in
    a single slot. Left joins from the degree node set (the full trade
    graph); nodes outside a constituent's domain carry NULLs on both
    engines."""
    from herodb_spark.graph import extra_algos as GX

    # ONE fact-join derivation feeds all four constituents — the
    # 4-table lineitem/orders/customer/supplier join is the dominant
    # cost and must not run once per metric
    trade = GE.nation_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    d = graph_degree(spark, sf_dir, edges=trade)
    t = graph_two_hop(spark, sf_dir, edges=trade)
    c = graph_connected_components(spark, sf_dir, edges=trade)
    k = GX.graph_kcore(spark, sf_dir, edges=trade)
    return (
        d.join(t, "node", "left")
        .join(c, "node", "left")
        .join(k, "node", "left")
        .orderBy("node")
    )


def _graph_node_metrics_sql() -> str:
    from herodb_spark.graph import extra_algos as GX

    return f"""
SELECT d.node, d.out_deg, d.in_deg, d.out_w, d.in_w,
       t.n_reachable_2hop, c.comp, k.core_degree
FROM ({GRAPH_DEGREE_SQL}) d
LEFT JOIN ({GRAPH_TWO_HOP_SQL}) t ON d.node = t.node
LEFT JOIN ({GRAPH_CC_SQL}) c ON d.node = c.node
LEFT JOIN ({GX.GRAPH_KCORE_SQL}) k ON d.node = k.node
ORDER BY d.node
"""


GRAPH_NODE_METRICS_SQL = _graph_node_metrics_sql()


def graph_seed_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of graph_shortest_hops + graph_weighted_sssp +
    (since round 11) graph_personalized_pagerank (the union's own
    building blocks): per reachable node from the seed, the unweighted hop
    count, the weighted shortest distance, and the personalized-
    PageRank proximity score in one row. Reachable sets coincide
    (same sparse edge set; PPR's nonzero support is the seed-reachable
    set and the seed itself sits at hops 0), so inner joins are exact
    on both engines — every nonzero PPR value lands in the hash."""
    from herodb_spark.operators import extra as E

    trade = GE.nation_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    h = graph_shortest_hops(spark, sf_dir, edges=trade)
    s = E.graph_weighted_sssp(spark, sf_dir, edges=trade)
    p = graph_personalized_pagerank(spark, sf_dir, edges=trade)
    return h.join(s, "node").join(p, "node").orderBy("node")


def _graph_seed_paths_sql() -> str:
    from herodb_spark.operators import extra as E

    return f"""
SELECT h.node, h.hops, s.dist, p.ppr
FROM ({GRAPH_SHORTEST_HOPS_SQL}) h
JOIN ({E.GRAPH_WEIGHTED_SSSP_SQL}) s ON h.node = s.node
JOIN ({GRAPH_PPR_SQL.replace("ORDER BY node", "")}) p ON h.node = p.node
ORDER BY h.node
"""


# GRAPH_SEED_PATHS_SQL is assembled at the end of this module (its
# ppr branch embeds GRAPH_PPR_SQL, declared below).


def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """10-iteration PERSONALIZED PageRank from seed {SEED} over the
    sparse trade graph (all 25 nations as the node set) — proximity
    scores toward the seed, the similar-items/recsys staple next to
    plain graph_pagerank. Static iteration count → the oracle unrolls
    the updates into chained MATERIALIZED CTEs exactly like
    GRAPH_PAGERANK_SQL, with the teleport/dangling terms weighted by
    the seed-concentrated pref vector (bit-identical IEEE expression
    shapes both sides). GRADED via the graph_seed_paths tag-union
    since r11 (ppr column over the seed-reachable set — unreachable
    non-seeds are exactly 0.0 and seeds are reachable at hops 0, so
    the joined support carries every nonzero score); this standalone
    entry + oracle kept."""
    from herodb_spark.catalog import load_table

    # lazy, no eager job — same plan shape as graph_pagerank above
    nodes = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    e = GE.sparse_edges(spark, sf_dir, edges)
    return GA.personalized_pagerank(nodes, e, seeds=[SEED], iters=10).orderBy("node")


def _ppr_unrolled_sql(iters: int = 10, damping: float = 0.85) -> str:
    """DuckDB oracle mirroring GA.personalized_pagerank bit-for-bit
    (the GRAPH_PAGERANK_SQL recipe with the seed-concentrated pref):
    identical IEEE-double expression shapes per iteration
    ((1−d)·pref + d·(c + dang·pref)), ROUND(...,6) at the end; every
    per-iteration CTE MATERIALIZED for the same inlining reason."""
    omd = 1.0 - damping
    parts = [
        "WITH ",
        GE.SPARSE_SQL,
        ", nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation)",
        f", np AS MATERIALIZED (SELECT node, CASE WHEN node = {SEED} THEN 1.0 ELSE 0.0 END AS pref FROM nodes)",
        ", deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM sparse GROUP BY src)",
        ", r0 AS MATERIALIZED (SELECT node, pref AS rank FROM np)",
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f""",
c{i} AS MATERIALIZED (
  SELECT s.dst AS node, SUM(r.rank / g.deg) AS c
  FROM {prev} r JOIN deg g ON r.node = g.src JOIN sparse s ON s.src = r.node
  GROUP BY s.dst
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dang
  FROM {prev} r LEFT JOIN deg g ON r.node = g.src WHERE g.src IS NULL
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         ({omd} * n.pref) + {damping} * (COALESCE(c.c, 0.0) + d.dang * n.pref) AS rank
  FROM np n LEFT JOIN c{i} c ON n.node = c.node, d{i} d
)"""
        )
    parts.append(
        f"\nSELECT node, ROUND(rank, 6) AS ppr FROM r{iters} ORDER BY node"
    )
    return "".join(parts)


GRAPH_PPR_SQL = _ppr_unrolled_sql()

GRAPH_SEED_PATHS_SQL = _graph_seed_paths_sql()
