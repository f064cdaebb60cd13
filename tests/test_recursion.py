"""General recursion operators: closure / fixpoint semantics and the
BOM rollup query (reference draft:77-89 parameterized recursive
rules)."""

from __future__ import annotations

from pyspark.sql import functions as F

from herodb_spark.graph.algorithms import closure, fixpoint
from herodb_spark.operators import pipeline as PL
from herodb_spark.operators import recursion as RC
from tests.harness import compare


def test_bom_rollup_oracle(spark, sf_dir, duck):
    res = compare(RC.recursive_bom_rollup(spark, sf_dir), RC.RECURSIVE_BOM_SQL, duck)
    assert res["ok"], res


def test_fib_through_closure_oracle(spark, sf_dir, duck):
    res = compare(PL.recursive_fib(spark, sf_dir), PL.RECURSIVE_FIB_SQL, duck)
    assert res["ok"], res


def test_closure_terminates_on_cycle(spark):
    """The anti-join form must reach a fixpoint on a cyclic rule (the
    monotone-acyclic shortcut would loop forever here)."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src int, dst int")
    init = spark.createDataFrame([(0,)], "node int").coalesce(1)

    def step(frontier):
        return frontier.join(edges, frontier.node == edges.src).select(
            F.col("dst").alias("node")
        )

    out = closure(step, init, key=["node"], max_iters=10)
    assert {r.node for r in out.collect()} == {0, 1, 2}


def test_closure_semi_naive_assigns_first_discovery(spark):
    """Diamond graph: node 3 reachable via two paths; the semi-naive
    anti-join must keep exactly one row per key."""
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src int, dst int"
    )
    init = spark.createDataFrame([(0, 0)], "node int, hops int").coalesce(1)

    def step(frontier):
        return frontier.join(edges, frontier.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )

    rows = {r.node: r.hops for r in closure(step, init, key=["node"]).collect()}
    assert rows == {0: 0, 1: 1, 2: 1, 3: 2}


def test_fixpoint_converges_and_stops_early(spark):
    """Min-label propagation on a 3-cycle converges to all-zeros well
    before max_iters; fixpoint must detect set-equality and stop."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src int, dst int")
    init = spark.createDataFrame([(0, 0), (1, 1), (2, 2)], "node int, lbl int")

    def step(state):
        return (
            state.join(edges, state.node == edges.src)
            .select(F.col("dst").alias("node"), F.col("lbl"))
            .unionByName(state)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )

    out = {r.node: r.lbl for r in fixpoint(step, init, max_iters=50).collect()}
    assert out == {0: 0, 1: 0, 2: 0}


def test_closure_whole_row_key_subtracts_nulls(spark):
    """Keyed on the whole row, a re-derived fact holding a NULL is not
    new: each fact comes back once and the loop stops after one round."""
    init = spark.createDataFrame([(1, None), (2, 5)], "a int, b int").coalesce(1)

    def step(frontier):
        return frontier.select("a", "b")

    rows = [tuple(r) for r in closure(step, init, key=["a", "b"], max_iters=6).collect()]
    assert sorted(rows, key=str) == sorted([(1, None), (2, 5)], key=str)


def test_closure_subset_key_matches_null_key(spark):
    """Keyed on a strict subset of the columns, a NULL key is matched
    null-safely: the re-derived NULL node keeps its first discovery."""
    init = spark.createDataFrame([(None, 0), (1, 0)], "node int, hops int").coalesce(1)

    def step(frontier):
        return frontier.select("node", (F.col("hops") + 1).alias("hops"))

    rows = [tuple(r) for r in closure(step, init, key=["node"], max_iters=6).collect()]
    assert sorted(rows, key=str) == sorted([(None, 0), (1, 0)], key=str)
