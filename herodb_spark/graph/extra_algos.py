"""Additional graph analytics: link prediction and k-core.

- common-neighbors link prediction: score non-adjacent node pairs by
  |N(a) ∩ N(b)| — a two-hop self-join, fully SQL-expressible.
- k-core decomposition: iteratively strip nodes with degree < k until
  fixpoint. Per-iteration aggregation makes it non-SQL-recursive
  (rows-only driver check); the defining invariant — every surviving
  node has ≥ k surviving neighbors — is asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.graph import algorithms as GA
from herodb_spark.graph import edges as GE
from herodb_spark.session import ckpt_count

KCORE_K = 3
MAX_ITERS = 30


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the sparse undirected trade graph: for every
    non-adjacent pair a<b, the number of common neighbors (≥ 2)."""
    und = GE.undirected_sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("n"))
    e2 = und.select(F.col("src").alias("n"), F.col("dst").alias("b"))
    pairs = (
        e1.join(e2, "n")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    adjacent = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    return (
        pairs.join(adjacent, ["a", "b"], "left_anti")
        .where(F.col("common_neighbors") >= 2)
        .orderBy("a", "b")
    )


GRAPH_COMMON_NEIGHBORS_SQL = (
    "WITH "
    + GE.UNDIRECTED_SQL
    + """
, pairs AS (
  SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS common_neighbors
  FROM undirected e1 JOIN undirected e2 ON e1.dst = e2.src
  WHERE e1.src < e2.dst
  GROUP BY e1.src, e2.dst
)
SELECT a, b, common_neighbors
FROM pairs
WHERE common_neighbors >= 2
  AND NOT EXISTS (
    SELECT 1 FROM undirected u WHERE u.src = pairs.a AND u.dst = pairs.b
  )
ORDER BY a, b
"""
)


def graph_kcore(spark: SparkSession, sf_dir: str, edges=None) -> DataFrame:
    """k-core (k=3) of the sparse undirected trade graph: nodes with
    core degree ≥ 3 after iterative peeling."""
    und = GE.undirected_sparse_edges(spark, sf_dir, edges).localCheckpoint(eager=True)
    edges = und
    for _ in range(MAX_ITERS):
        deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
        # emptiness probe rides the checkpoint job (r13 opt)
        weak, n_weak = ckpt_count(deg.where(F.col("deg") < KCORE_K).select("node"))
        if n_weak == 0:
            break
        edges = (
            edges.join(weak.select(F.col("node").alias("src")), "src", "left_anti")
            .join(weak.select(F.col("node").alias("dst")), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    return (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def _kcore_unrolled_sql(rounds: int = 10, k: int = KCORE_K) -> str:
    """DuckDB oracle for graph_kcore: peeling unrolled into `rounds`
    chained CTEs. A round past the fixpoint removes nothing, so any
    `rounds` ≥ the true peel depth yields the exact k-core; the Spark
    side iterates to fixpoint and tests assert convergence within the
    unroll budget at the graded SFs. Every per-round CTE is
    MATERIALIZED: e{{i}} is referenced by both w{{i+1}} and e{{i+1}},
    so unfenced CTE inlining would duplicate the subtree 2^rounds
    times (same pitfall as the PageRank oracle)."""
    parts = ["WITH ", GE.UNDIRECTED_SQL, ", e0 AS MATERIALIZED (SELECT src, dst FROM undirected)"]
    for i in range(1, rounds + 1):
        prev = f"e{i - 1}"
        parts.append(
            f""",
w{i} AS MATERIALIZED (SELECT src AS node FROM {prev} GROUP BY src HAVING COUNT(*) < {k}),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  WHERE NOT EXISTS (SELECT 1 FROM w{i} w WHERE w.node = e.src)
    AND NOT EXISTS (SELECT 1 FROM w{i} w WHERE w.node = e.dst)
)"""
        )
    parts.append(
        f"\nSELECT src AS node, COUNT(*) AS core_degree FROM e{rounds} GROUP BY src ORDER BY node"
    )
    return "".join(parts)


GRAPH_KCORE_SQL = _kcore_unrolled_sql()


def graph_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of graph_triangles + graph_common_neighbors +
    (since round 11) graph_adamic_adar (tag-union, the cube_pivot
    contract): all three are motif/link-prediction measures over the
    same undirected trade graph — the global triangle count, the
    per-pair common-neighbor counts, and the hub-discounted
    Adamic-Adar scores — so they share one graded slot; each
    constituent is its own function (and registry entry), a building
    block the union calls. The adamic_adar
    branch carries its double score in the `s` column (NULL for the
    integer-only branches)."""
    from herodb_spark.operators.graphops import graph_triangles

    nb = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    tri = graph_triangles(spark, sf_dir).select(
        F.lit("triangles").alias("q"),
        nb.alias("a"),
        nb.alias("b"),
        F.col("n_triangles").cast("long").alias("n"),
        nd.alias("s"),
    )
    cn = graph_common_neighbors(spark, sf_dir).select(
        F.lit("common_neighbors").alias("q"),
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("common_neighbors").cast("long").alias("n"),
        nd.alias("s"),
    )
    aa = graph_adamic_adar(spark, sf_dir).select(
        F.lit("adamic_adar").alias("q"),
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("common_neighbors").cast("long").alias("n"),
        F.col("adamic_adar").alias("s"),
    )
    return tri.unionByName(cn).unionByName(aa).orderBy("q", "a", "b")


def _motifs_sql() -> str:
    from herodb_spark.operators.graphops import GRAPH_TRIANGLES_SQL

    return f"""
SELECT 'triangles' AS q, CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,
       CAST(n_triangles AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS s
FROM ({GRAPH_TRIANGLES_SQL})
UNION ALL
SELECT 'common_neighbors' AS q, CAST(a AS BIGINT), CAST(b AS BIGINT),
       CAST(common_neighbors AS BIGINT), CAST(NULL AS DOUBLE)
FROM ({GRAPH_COMMON_NEIGHBORS_SQL})
UNION ALL
SELECT 'adamic_adar' AS q, CAST(a AS BIGINT), CAST(b AS BIGINT),
       CAST(common_neighbors AS BIGINT), adamic_adar
FROM ({GRAPH_ADAMIC_ADAR_SQL})
ORDER BY q, a, b
"""


# GRAPH_MOTIFS_SQL is assembled at the end of this module (its
# adamic_adar branch embeds GRAPH_ADAMIC_ADAR_SQL, declared below).


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar LINK PREDICTION on the sparse undirected trade
    graph — the standard refinement of common-neighbors: each shared
    neighbor z is weighted by 1/ln(deg(z)), so hubs (which everyone
    shares) contribute less evidence than selective nodes. For every
    non-adjacent pair a<b with ≥ 2 common neighbors:

        aa(a,b) = Σ_{z ∈ N(a) ∩ N(b)} 1 / ln(deg(z))

    deg(z) ≥ 2 whenever z is a common neighbor of two distinct nodes,
    so the log never vanishes. Determinism contract: per-neighbor
    terms rounded to 9 dp, summed as DECIMAL(27,9) (order-free), the
    pair score rounded to 6 dp — the repo's float rules.

    Plan (100-TB shape): one degree aggregate (map-side combined), the
    same through-the-neighbor self-join as common-neighbors (work ∝
    Σ_z deg(z)² over shared neighbors, never |V|²), the degree weight
    joined ON the neighbor key before the pair aggregate."""
    und = GE.undirected_sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("n"))
    e2 = und.select(F.col("src").alias("n"), F.col("dst").alias("b"))
    term = F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 9).cast(
        "decimal(27,9)"
    )
    pairs = (
        e1.join(e2, "n")
        .where(F.col("a") < F.col("b"))
        .join(deg.withColumnRenamed("src", "n"), "n")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(F.sum(term).cast("double"), 6).alias("adamic_adar"),
        )
    )
    adjacent = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    return (
        pairs.join(adjacent, ["a", "b"], "left_anti")
        .where(F.col("common_neighbors") >= 2)
        .orderBy("a", "b")
    )


GRAPH_ADAMIC_ADAR_SQL = (
    "WITH "
    + GE.UNDIRECTED_SQL
    + """
, deg AS (SELECT src AS n, CAST(COUNT(*) AS DOUBLE) AS deg FROM undirected GROUP BY src),
pairs AS (
  SELECT e1.src AS a, e2.dst AS b,
         COUNT(*) AS common_neighbors,
         ROUND(CAST(SUM(CAST(ROUND(1.0 / ln(deg.deg), 9) AS DECIMAL(27,9))) AS DOUBLE), 6)
           AS adamic_adar
  FROM undirected e1
  JOIN undirected e2 ON e1.dst = e2.src
  JOIN deg ON deg.n = e1.dst
  WHERE e1.src < e2.dst
  GROUP BY e1.src, e2.dst
)
SELECT a, b, common_neighbors, adamic_adar
FROM pairs
WHERE common_neighbors >= 2
  AND NOT EXISTS (
    SELECT 1 FROM undirected u WHERE u.src = pairs.a AND u.dst = pairs.b
  )
ORDER BY a, b
"""
)

GRAPH_MOTIFS_SQL = _motifs_sql()


LPA_ROUNDS = 8


def label_propagation(und: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous LABEL PROPAGATION communities (Raghavan et al.) on
    a symmetric edge list: every node starts as its own label; each
    round it adopts the most frequent label among its neighbors (ties
    → the LOWEST label, so the update is a total order and the whole
    run is deterministic — no RNG, no visit-order dependence).
    Synchronous LPA can 2-cycle on bipartite structures, so the
    operator is defined as the labeling after exactly `rounds`
    synchronous updates (bounded like the k-core peel), not a
    fixpoint claim. Per round: one neighbor-label join + one
    (node, label) count + one per-node argmax — all bounded shuffles
    keyed on node ids; O(rounds) passes at any scale.

    Rows-only by nature (an iterated argmax has no SQL-oracle form);
    the laws pinned in tests: determinism, labels ⊆ node ids, and
    same-label ⇒ same connected component (LPA refines components)."""
    from pyspark.sql import Window

    nodes = (
        und.select(F.col("src").alias("node"))
        .union(und.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("lbl"))
    for r in range(rounds):
        nb = und.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        best = (
            nb.groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
        )
        if r % 4 == 3 or r == rounds - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("lbl").alias("community"))


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA communities over the undirected sparse trade graph —
    community detection beyond connected components (a component can
    hold several densely-knit communities; LPA splits on local label
    majorities). Rows-only registry entry (no SQL-expressible
    oracle); determinism + refinement laws in tests."""
    und = GE.undirected_sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    return label_propagation(und).orderBy("node")
