from __future__ import annotations

import pytest

from herodb_spark.operators import graphops as G
from tests.harness import compare

ORACLE_CASES = [
    (G.graph_degree, G.GRAPH_DEGREE_SQL),
    (G.graph_two_hop, G.GRAPH_TWO_HOP_SQL),
    (G.graph_reachability, G.GRAPH_REACHABILITY_SQL),
    (G.graph_shortest_hops, G.GRAPH_SHORTEST_HOPS_SQL),
    (G.graph_connected_components, G.GRAPH_CC_SQL),
    (G.graph_triangles, G.GRAPH_TRIANGLES_SQL),
    (G.graph_personalized_pagerank, G.GRAPH_PPR_SQL),
]


@pytest.mark.parametrize("fn,sql", ORACLE_CASES, ids=[f.__name__ for f, _ in ORACLE_CASES])
def test_graph_oracle(spark, sf_dir, duck, fn, sql):
    res = compare(fn(spark, sf_dir), sql, duck)
    assert res["ok"], res


def test_pagerank_invariants(spark, sf_dir):
    rows = G.graph_pagerank(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(r.rank > 0 for r in rows)


def test_shortest_hops_converges_within_pinned_bound(spark, sf_dir):
    """Both engines pin HOPS_BOUND; BFS must reach every node within
    it at the test SFs (otherwise the bound itself is stale and both
    sides silently truncate)."""
    from herodb_spark.graph import algorithms as GA
    from herodb_spark.graph import edges as GE
    from herodb_spark.operators.graphops import HOPS_BOUND, SEED

    e = GE.sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    bounded = sorted(tuple(r) for r in GA.shortest_hops(e, SEED, max_iters=HOPS_BOUND).collect())
    free = sorted(tuple(r) for r in GA.shortest_hops(e, SEED, max_iters=30).collect())
    assert bounded == free


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iters without a fixpoint must fail loudly —
    silently returning a half-propagated labeling hands several comp
    ids to one true component."""
    import pytest

    from herodb_spark.graph.algorithms import connected_components
    from herodb_spark.session import literal_df

    chain = literal_df(spark, [(i, i + 1) for i in range(12)], "src long, dst long")
    sym = chain.unionByName(chain.selectExpr("dst AS src", "src AS dst"))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(sym, max_iters=3)


def test_personalized_pagerank_invariants(spark, sf_dir):
    """PPR laws: mass sums to ~1 (teleport conserves it), the seed
    carries the largest score, every node reachable from the seed
    scores > 0, every unreachable non-seed scores EXACTLY 0.0 (the
    support contract the graph_seed_paths union relies on), and
    plain pagerank is recovered when pref is uniform (spot-checked by
    the separate graded operator)."""
    rows = {r.node: r.ppr for r in G.graph_personalized_pagerank(spark, sf_dir).collect()}
    assert len(rows) == 25
    assert abs(sum(rows.values()) - 1.0) < 1e-3
    assert rows[G.SEED] == max(rows.values())
    reach = {r.node for r in G.graph_reachability(spark, sf_dir).collect()}
    for node, ppr in rows.items():
        if node in reach or node == G.SEED:
            assert ppr > 0.0, node
        else:
            assert ppr == 0.0, (node, ppr)


# A graph with what the nation graph lacks at every graded SF: node 5
# is dangling (no out-edge), node 6 has no in-edge, the edge 9→1 has
# its source outside the node set (ignored) and the edge 2→7 its
# target outside it (still counted in 2's out-degree, so that mass
# leaves the graph).
_NODES = [1, 2, 3, 4, 5, 6]
_EDGES = [(1, 2), (1, 3), (2, 3), (2, 7), (3, 1), (3, 4), (4, 2), (4, 5), (6, 1), (9, 1)]


def _reference_ranks(iters, damping, pref=None):
    """Pure-Python PageRank (pref=None) or personalized PageRank in the
    oracles' expression shapes, summing in-neighbours and dangling
    ranks in ascending node order."""
    n = len(_NODES)
    deg = {v: sum(1 for s, _ in _EDGES if s == v) for v in _NODES}
    rank = {v: 1.0 / n if pref is None else pref[v] for v in _NODES}
    for _ in range(iters):
        dang = 0.0
        for v in _NODES:
            if deg[v] == 0:
                dang += rank[v]
        c = {}
        for s, t in sorted(_EDGES):
            if s in rank and t in rank:
                c[t] = c.get(t, 0.0) + rank[s] / deg[s]
        if pref is None:
            rank = {v: (1.0 - damping) / n + damping * (c.get(v, 0.0) + dang / n) for v in _NODES}
        else:
            rank = {
                v: (1.0 - damping) * pref[v] + damping * (c.get(v, 0.0) + dang * pref[v])
                for v in _NODES
            }
    return [(v, round(rank[v], 6)) for v in _NODES]


def _literal_graph(spark):
    from herodb_spark.session import literal_df

    nodes = literal_df(spark, [(v,) for v in _NODES], "node long")
    edges = literal_df(spark, _EDGES, "src long, dst long")
    return nodes, edges


@pytest.mark.parametrize("partitions", ["1", "8", "32"])
@pytest.mark.parametrize("aqe", ["true", "false"])
def test_pagerank_dangling_and_out_of_set_edges(spark, partitions, aqe):
    """Both PageRanks equal the reference loop on the dangling and
    out-of-set-edge paths, whatever the partition count and AQE say:
    the fold sums in sorted array order, not in partial sums."""
    from herodb_spark.graph import algorithms as GA

    nodes, edges = _literal_graph(spark)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        pr = sorted(tuple(r) for r in GA.pagerank(nodes, edges, iters=10).collect())
        ppr = sorted(tuple(r) for r in GA.personalized_pagerank(nodes, edges, seeds=[1, 6]).collect())
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert pr == _reference_ranks(10, 0.85)
    pref = {v: 0.5 if v in (1, 6) else 0.0 for v in _NODES}
    assert ppr == _reference_ranks(10, 0.85, pref)


def test_pagerank_plan_is_fixed_in_iterations(spark):
    """The rank updates run inside one fold: building the plan submits
    no job, and 10 iterations execute with as many exchanges as 2, so
    per-iteration shuffles cannot come back unnoticed."""
    from herodb_spark.graph import algorithms as GA

    nodes, edges = _literal_graph(spark)
    sc = spark.sparkContext
    exchanges = {}
    for k in (2, 10):
        group = f"pagerank_plan_{k}"
        sc.setJobGroup(group, group)
        try:
            df = GA.pagerank(nodes, edges, iters=k)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        df.collect()
        exchanges[k] = df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    assert exchanges[2] == exchanges[10] > 0, exchanges
