"""Analytical graph algorithms as iterative DataFrame programs.

The reference's graph storage (`data class` relations,
Kernel/Drafts/draft:173-175, draft_students) implies traversal /
closure / ranking queries; BASELINE.json picks "GraphX for analytical
queries" as the Spark approach. GraphX is Scala/RDD-only, so we use
its *algorithm shapes* (Pregel-style iteration: message = join on
edges, combine = groupBy) over DataFrames — this keeps Catalyst, AQE,
and whole-stage codegen in the loop, which is the idiomatic PySpark
path at scale.

Scale notes:
- Each iteration = one shuffle keyed on src/dst. `localCheckpoint()`
  every iteration truncates lineage so plan size / replanning stays
  O(1) in iteration count (the classic iterative-DataFrame trap).
- PageRank (plain and personalized) is the exception: `_rank_fold`
  gathers the whole adjacency into ONE row and runs every rank update
  in one task as a higher-order fold, so the plan and its exchanges
  do not grow with the iteration count and no eager job runs. That
  bounds it to node sets that fit one row — fixed-cardinality sets
  such as the 25 nations; the edge extraction feeding it stays a
  distributed plan.
- Frontier-based BFS keeps per-iteration work proportional to the
  frontier, not the graph.
- Connected components: `connected_components` is min-label
  propagation (diameter-bounded rounds, the simple baseline);
  `connected_components_twophase` is the large-star/small-star
  contraction (O(log n) rounds) — the 100-TB path and the one the
  registered operator runs. Same signature, property-tested equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from herodb_spark.session import ckpt_count

MAX_ITERS = 30


def _subtract(new: DataFrame, state: DataFrame, key: list[str]) -> DataFrame:
    """`new` minus the rows whose `key` is in `state`, NULL matching
    NULL: `exceptAll` when the key is the whole row, else a null-safe
    left-anti join on the key."""
    if set(key) == set(new.columns):
        return new.exceptAll(state.select(*new.columns))
    seen = state.select(*[F.col(k).alias(f"_seen_{i}") for i, k in enumerate(key)])
    cond = [F.col(k).eqNullSafe(F.col(f"_seen_{i}")) for i, k in enumerate(key)]
    return new.join(seen, cond, "left_anti")


def seminaive(seeds: dict, derive, keys: dict, max_iters: int = MAX_ITERS) -> dict:
    """Semi-naive evaluation of mutually recursive relations, the one
    round loop behind `closure` and HeroQL's recursive SCCs (the
    reference's recursive rules, Kernel/Drafts/draft:77-89 `case ... :-
    Fib(a-1,x), Fib(a-2,y)`):

        stateₙ = Δₙ = seedₙ  (None: no base case)
        Δₙ' = dropDuplicates(deriveₙ(state, Δ)) ∖ stateₙ, both on keysₙ
        stateₙ += Δₙ' for every n; stop when every Δₙ' is empty

    `derive(state, delta)` returns {name: candidate rows or None} from
    the previous round's delta (None: that relation gained nothing), so
    per-round work scales with the frontier, not the state. A fact first
    derivable in a round uses a fact of the previous round, so
    substituting the delta into each recursive position in turn is
    complete. The subtraction is NULL-safe (`_subtract`); a key that is
    a strict subset of the columns keeps each key's first discovery
    (BFS: the minimum hop count).

    Seeds, deltas and grown states are localCheckpoint'ed eagerly (the
    subtraction references the state; lazy lineage would nest the whole
    history into each plan), and the delta's emptiness probe rides its
    checkpoint job. Deltas merge behind one round barrier, so each round
    reads the previous round's state and round arithmetic (the draft's
    Fib round k) is deterministic."""
    state = {n: None if s is None else s.localCheckpoint(eager=True) for n, s in seeds.items()}
    delta = dict(state)
    for _ in range(max_iters):
        new_delta = {}
        for n, rows in derive(state, delta).items():
            if rows is not None:
                rows = rows.dropDuplicates(keys[n])
                if state[n] is not None:
                    rows = _subtract(rows, state[n], keys[n])
                rows, n_new = ckpt_count(rows)
                if n_new == 0:
                    rows = None
            new_delta[n] = rows
        if all(d is None for d in new_delta.values()):
            break
        for n, d in new_delta.items():
            if d is not None:
                state[n] = d if state[n] is None else state[n].unionByName(d).localCheckpoint(eager=True)
        delta = new_delta
    return state


def closure(step, init: DataFrame, key: list[str], max_iters: int = MAX_ITERS) -> DataFrame:
    """`seminaive` on one relation: Δᵢ₊₁ = step(Δᵢ) minus the state on
    `key`. Use it for cyclic or re-deriving rules; `step` sees only the
    latest delta."""
    return seminaive({"r": init}, lambda state, delta: {"r": step(delta["r"])},
                     {"r": key}, max_iters)["r"]


def unroll(step, init: DataFrame, max_iters: int = MAX_ITERS,
           probe_every: int | None = 1) -> DataFrame:
    """Bounded recursion for MONOTONE-ACYCLIC rules (a step emits each
    fact once and never one of an earlier step: linear recurrences, tree
    and chain walks): init ∪ step(init) ∪ step²(init) ∪ … with no dedup
    and no subtraction, so the steps chain lazily.

    Every `probe_every` steps one checkpoint job materializes the
    segment and probes it for emptiness (lineage truncates there;
    overshooting the fixpoint is harmless). None runs all `max_iters`
    steps as one lazy plan, for statically known step counts. Keep tiny
    inits on ONE partition (coalesce): every delta inherits the init's
    partitioning, and a 1-row recurrence over 8 partitions turns the
    final union into hundreds of empty tasks."""
    state = init.localCheckpoint(eager=True)
    frontier = state
    for i in range(1, max_iters + 1):
        new = step(frontier)
        probe = probe_every is not None and (i % probe_every == 0 or i == max_iters)
        if probe:
            # checkpoint the delta BEFORE unioning it into the state:
            # the state then references the materialized segment
            # instead of a lazy twin of the plan the probe computed
            new, n_new = ckpt_count(new)
        state = state.unionByName(new)
        frontier = new
        if probe and n_new == 0:
            break
    return state


def fixpoint(step, init: DataFrame, max_iters: int = MAX_ITERS,
             probe_change: bool = True) -> DataFrame:
    """General bounded recursion, re-aggregate form: iterate a
    full-state transformer `state ← step(state)` until the state stops
    changing (set equality) or `max_iters` is reached. Covers
    iterations that REVISE rows (Bellman-Ford relaxation, label
    propagation, peeling) rather than only adding them — the other
    half of the reference's recursive-rule surface (draft:77-89).
    Change detection is two anti-join emptiness probes per round; each
    round is checkpointed so lineage stays bounded.

    `probe_change=False` declares the iteration STATICALLY BOUNDED
    (the caller pins max_iters and extra rounds past convergence are
    idempotent — e.g. a k-round Bellman-Ford whose oracle unrolls the
    same k rounds): the probe jobs per round are skipped, leaving
    one blocking checkpoint per round.

    Change detection (r13 opt): the row count rides each round's
    checkpoint job; a count change IS a change (zero probe jobs), and
    at equal counts ONE exceptAll suffices — for multisets with
    |A| = |B|, A∖B = ∅ implies B∖A = ∅ (|A∖B| = |A| − |A∩B|). The old
    shape paid two exceptAll probes every round."""
    if not probe_change:
        state = init.localCheckpoint(eager=True)
        for _ in range(max_iters):
            state = step(state).localCheckpoint(eager=True)
        return state
    state, n_state = ckpt_count(init)
    for _ in range(max_iters):
        new, n_new = ckpt_count(step(state))
        changed = n_new != n_state or not new.exceptAll(state).isEmpty()
        state, n_state = new, n_new
        if not changed:
            break
    return state


def degrees(edges: DataFrame) -> DataFrame:
    """In/out degree + weight per node from a weighted edge list."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg"), F.sum("w").alias("out_w")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg"), F.sum("w").alias("in_w")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("out_w", F.lit(0)).alias("out_w"),
            F.coalesce("in_w", F.lit(0)).alias("in_w"),
        )
    )


def two_hop_counts(edges: DataFrame) -> DataFrame:
    """Per node: count of distinct nodes reachable in ≤ 2 hops
    (excluding self)."""
    e1 = edges.select(F.col("src").alias("node"), F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("far"))
    one = e1.select("node", F.col("mid").alias("reach"))
    two = e1.join(e2, "mid").select("node", F.col("far").alias("reach"))
    return (
        one.unionByName(two)
        .where(F.col("node") != F.col("reach"))
        .distinct()
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_reachable_2hop"))
    )


def shortest_hops(edges: DataFrame, seed: int, max_iters: int = MAX_ITERS) -> DataFrame:
    """BFS min-hop distances from `seed`, expressed through the
    general `closure` operator: the frontier-only step keeps
    per-iteration work proportional to the frontier, and the
    semi-naive anti-join assigns each node the hop count of its FIRST
    discovery — i.e. the minimum."""
    from herodb_spark.session import literal_df

    spark = edges.sparkSession
    init = literal_df(spark, [(seed, 0)], "node int, hops int").withColumn(
        "node", F.col("node").cast(dict(edges.dtypes)["src"])
    )

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
        )

    return closure(step, init, key=["node"], max_iters=max_iters)


def reachable_set(edges: DataFrame, seed: int, max_iters: int = MAX_ITERS) -> DataFrame:
    """Transitive closure from `seed` (the recursive-rule analog,
    reference draft:80-100 Fib / recursive cases)."""
    return shortest_hops(edges, seed, max_iters).select("node")


def connected_components(undirected: DataFrame, max_iters: int = MAX_ITERS) -> DataFrame:
    """Min-label propagation over a symmetric edge list until
    fixpoint: comp(v) = min node id in v's component.

    Convergence (r13 opt): each node's comp is monotonically
    NON-INCREASING under least(), and the node set is fixed, so
    Σ comp is strictly smaller after any change and equal iff NO
    label changed — an exact test that rides the checkpoint job as an
    observed DECIMAL(38,0) sum (overflow-proof for any long ids),
    replacing the per-round change-join probe job."""

    def _ckpt_sum(df: DataFrame) -> tuple[DataFrame, object]:
        from pyspark.sql import Observation

        obs = Observation()
        out = df.observe(
            obs, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        return out, obs.get["s"]

    labels, prev_sum = _ckpt_sum(
        undirected.select(F.col("src").alias("node"))
        .unionByName(undirected.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            undirected.join(labels, undirected.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels, new_sum = _ckpt_sum(
            labels.join(neighbor_min, "node", "left")
            .select("node", F.least(F.col("comp"), F.coalesce("n_comp", F.col("comp"))).alias("comp"))
        )
        labels, changed = new_labels, new_sum != prev_sum
        prev_sum = new_sum
        if not changed:
            converged = True
            break
    if not converged:
        # silently returning a half-propagated labeling would hand
        # multiple comp ids to one true component — fail loudly
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter exceeds max_iters; raise it or use "
            "connected_components_twophase)"
        )
    return labels


def connected_components_twophase(undirected: DataFrame, max_iters: int = MAX_ITERS) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): converges in O(log n) rounds regardless of
    graph diameter — the 100-TB replacement for min-label propagation
    (O(diameter) rounds). Same output contract as
    `connected_components`: (node, comp) with comp = min node id in
    the component; equality with min-label is property-tested on the
    testdata graphs and on random graphs.

    Each round is two groupBy-join steps over the current edge set:
      large-star(u): connect every neighbor v > u to
        m = min(Γ(u) ∪ {u});
      small-star(u): connect every neighbor v ≤ u (and u itself) to
        that minimum.
    Edges come out canonical (child > parent); at the fixpoint every
    component is a star centered on its minimum, read off directly.
    All shuffles key on node ids — no driver state, and each
    contraction strictly shrinks long chains, which is what bounds the
    round count logarithmically."""
    # materialize the INPUT once: orig_nodes and edges both derive
    # from it, and with an expensive upstream (e.g. the MinHash-LSH
    # pair miner feeding dedup_cluster_canonical) two independent
    # eager checkpoints would compute that whole DAG twice
    undirected = undirected.localCheckpoint(eager=True)
    orig_nodes = (
        undirected.select(F.col("src").alias("node"))
        .unionByName(undirected.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges, n_edges = ckpt_count(
        undirected.where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .distinct()
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def _mins(view: DataFrame) -> DataFrame:
        # m(u) = min(neighbors-in-view ∪ {u})
        return view.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )

    done = False
    for _ in range(max_iters):
        # large-star: from the full symmetric view, point every
        # strictly larger neighbor at u's minimum. Kept as an eager
        # checkpoint: the small-star step references ls TWICE via the
        # symmetric union, and ReuseExchange does not dedupe the
        # doubled subtree in the initial plan (verified r13-opt:
        # 0 ReusedExchange nodes, 44 Exchanges in the fused round) —
        # fusing would double both the planning tree and, absent AQE
        # runtime stage reuse, the large-star compute.
        sym = _sym(edges)
        m = _mins(sym)
        ls = (
            sym.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: only the ≤ side of the symmetric view; point u
        # and its small neighbors at the minimum
        dirn = _sym(ls).where(F.col("dst") <= F.col("src"))
        m2 = _mins(dirn)
        # the |ss| probe rides the checkpoint job (r13 opt: no count
        # job per round); set equality as |A| == |B| ∧ A ⊆ B (multiset
        # containment via exceptAll) — the exceptAll shuffle only runs
        # when the observed counts match
        ss, n_ss = ckpt_count(
            dirn.join(m2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(m2.select(F.col("src"), F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        converged = n_ss == n_edges and ss.exceptAll(edges).isEmpty()
        edges, n_edges = ss, n_ss
        if converged:
            done = True
            break
    if not done:
        # the final read-off assumes a star fixpoint; a premature exit
        # would fan out the left join into duplicate (node, comp) rows
        raise RuntimeError(
            f"connected_components_twophase did not converge in {max_iters} "
            "rounds (O(log n) expected — this indicates a bug or an "
            "adversarial graph; raise max_iters)"
        )
    # at the star fixpoint each child points directly at its root
    return orig_nodes.join(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("root")), "node", "left"
    ).select("node", F.coalesce("root", F.col("node")).alias("comp"))


def _rank_fold(nodes: DataFrame, edges: DataFrame, iters: int, init, update) -> DataFrame:
    """The PageRank engine shared by `pagerank` and
    `personalized_pagerank`: gather the graph into ONE row, run the
    `iters` rank updates as a JVM higher-order fold inside one task,
    and `inline` (node, rank) back into rows. The plan has the same
    exchanges whatever `iters` is, and no eager job.

    The row is a node-sorted array<struct<node, ..., deg, ins>>: the
    columns of `nodes` (unique node ids), the out-degree over ALL of
    `edges` (edges into nodes outside `nodes` still count, so their
    mass leaves the graph) and `ins`, the sorted in-neighbours whose
    source is in `nodes`, one entry per edge. Degree 0 means dangling.

    `init(x, n)` is node x's starting rank; `update(x, c, dang, n)` its
    rank after one step, with c = Σ_ins rank/deg and dang = Σ of the
    dangling ranks (0.0 when nothing dangles). Both sums run in array
    order, so the doubles do not depend on partitioning."""
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    ins = (
        edges.join(nodes.select(F.col("node").alias("src")), "src", "left_semi")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.array_sort(F.collect_list("src")).alias("ins"))
    )
    per_node = nodes.join(deg, "node", "left").join(ins, "node", "left").select(
        *nodes.columns,
        F.coalesce("deg", F.lit(0)).alias("deg"),
        F.coalesce("ins", F.array()).alias("ins"),
    )
    g = F.col("g")
    n = F.size(g)
    pos = F.map_from_arrays(g["node"], F.transform(g, lambda _x, k: k + 1))

    def step(ranks, _i):
        def incoming(x):
            return F.aggregate(
                x["ins"],
                F.lit(0.0),
                lambda s, j: s
                + F.element_at(ranks, F.element_at(pos, j))
                / F.element_at(g, F.element_at(pos, j))["deg"],
            )

        # adding 0.0 for a non-dangling node leaves the sum's bits as is
        dang = F.aggregate(
            F.zip_with(g, ranks, lambda x, r: F.when(x["deg"] == 0, r).otherwise(0.0)),
            F.lit(0.0),
            lambda s, r: s + r,
        )
        return F.transform(g, lambda x: update(x, incoming(x), dang, n))

    ranks = F.aggregate(F.array_repeat(F.lit(0), iters), F.transform(g, lambda x: init(x, n)), step)
    return per_node.agg(F.array_sort(F.collect_list(F.struct(*per_node.columns))).alias("g")).select(
        F.inline(F.zip_with(g, ranks, lambda x, r: F.struct(x["node"].alias("node"), r.alias("rank"))))
    )


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 10, damping: float = 0.85) -> DataFrame:
    """Uniform-transition PageRank with dangling-mass redistribution.
    `nodes`: single column `node`; `edges`: src,dst (unweighted).
    Update, in the expression shape of the GRAPH_PAGERANK_SQL oracle:

        rank' = (1−d)/n + d·(Σ_in rank/deg + dang/n)"""
    ranks = _rank_fold(
        nodes,
        edges,
        iters,
        init=lambda x, n: F.lit(1.0) / n,
        update=lambda x, c, dang, n: F.lit(1.0 - damping) / n + F.lit(damping) * (c + dang / n),
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(undirected: DataFrame) -> DataFrame:
    """Total triangle count on a symmetric edge list: canonical a<b<c
    three-way join."""
    canon = undirected.where(F.col("src") < F.col("dst")).select("src", "dst").distinct()
    ab = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"]).agg(F.count(F.lit(1)).alias("n_triangles"))


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: list[int],
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PERSONALIZED PageRank: the teleport distribution concentrates
    on `seeds` (uniform over them) instead of all nodes — the random
    walker restarts at the seed set, so scores measure proximity TO
    THE SEEDS (the recsys/similar-items staple; plain `pagerank` is
    the pref≡1/n special case). Dangling mass also teleports to the
    seed distribution. Same fold as `pagerank`; update, in the
    expression shape of the GRAPH_PPR_SQL oracle:

        rank' = (1−d)·pref + d·(Σ_in rank/deg + dang·pref)

    Unreachable non-seeds converge to exactly 0.0 (pref 0, no
    incoming), so the nonzero support is the seed-reachable set."""
    if not seeds:
        raise ValueError("personalized_pagerank needs at least one seed")
    pref = F.when(
        F.col("node").isin(*[int(s) for s in seeds]), F.lit(1.0) / len(seeds)
    ).otherwise(F.lit(0.0))
    ranks = _rank_fold(
        nodes.select("node", pref.alias("pref")),
        edges,
        iters,
        init=lambda x, n: x["pref"],
        update=lambda x, c, dang, n: F.lit(1.0 - damping) * x["pref"]
        + F.lit(damping) * (c + dang * x["pref"]),
    )
    return ranks.select("node", F.round("rank", 6).alias("ppr"))
