"""Parameterized recursion applied to a non-graph rule — the missing
general-recursion surface from the reference (Kernel/Drafts/
draft:77-89: `func Fib(in i, out o); case ... :- Fib(a-1,x),
Fib(a-2,y)`). `graph.algorithms.unroll` is the reusable operator;
this module applies it to a bill-of-materials-style rule over the
`part` table:

    component(a, p)  :- assembly(a, p).
    component(a, p)  :- component(a, m), assembly(m, p).

The assembly edge table is a deterministic 4-ary tree over part keys
(parent(p) = floor((p-1)/4)); prices and keys come from the real
`part` table. The rollup aggregates each top-level assembly's full
component subtree — count and total retail value.

Scale design: per-iteration work is frontier ⋈ assembly (one
shuffle on the parent key); depth is log₄(n) so a 100-TB parts table
converges in ~20 rounds, each touching only the new frontier. The
final rollup is one hash aggregation keyed by assembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.graph.algorithms import unroll

FANOUT = 4
N_ROOTS = 4  # top-level assemblies: parts 1..4 (children of virtual root 0)


def _assembly_edges(part: DataFrame) -> DataFrame:
    """Deterministic BOM tree: parent(p) = floor((p-1)/4), p ≥ 1.
    Explicit FLOOR keeps Spark and DuckDB integer semantics aligned
    (both engines' `/` is float division)."""
    return part.where(F.col("p_partkey") >= 1).select(
        F.floor((F.col("p_partkey") - 1) / FANOUT).cast("long").alias("parent"),
        F.col("p_partkey").cast("long").alias("child"),
    )


def recursive_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per top-level assembly (parts 1..4): number of parts in its
    full component closure (assembly itself included) and their total
    retail value. Oracle: WITH RECURSIVE over the same tree."""
    part = load_table(spark, sf_dir, "part")
    edges = _assembly_edges(part).localCheckpoint(eager=True)
    init = (
        part.where((F.col("p_partkey") >= 1) & (F.col("p_partkey") <= N_ROOTS))
        .select(F.col("p_partkey").cast("long").alias("assembly"))
        .withColumn("node", F.col("assembly"))
        .coalesce(1)
    )

    def step(frontier: DataFrame) -> DataFrame:
        return frontier.join(edges, frontier.node == edges.parent).select(
            "assembly", F.col("child").alias("node")
        )

    # a tree is monotone-acyclic (every child has exactly one parent,
    # so a (assembly, node) fact derives exactly once): skip the
    # anti-join and per-step dedup, batch 3 levels per blocking probe
    comp = unroll(step, init, probe_every=3)
    value = F.sum(F.col("p_retailprice").cast("decimal(18,4)"))
    return (
        comp.join(part, comp.node == part.p_partkey)
        .groupBy("assembly")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(value, 2).cast("double").alias("total_value"),
        )
        .orderBy("assembly")
    )


RECURSIVE_BOM_SQL = f"""
WITH RECURSIVE comp(assembly, node) AS (
  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey AS BIGINT)
  FROM part WHERE p_partkey BETWEEN 1 AND {N_ROOTS}
  UNION
  SELECT c.assembly, CAST(p.p_partkey AS BIGINT)
  FROM comp c JOIN part p
    ON CAST(FLOOR((p.p_partkey - 1) / {FANOUT}) AS BIGINT) = c.node
  WHERE p.p_partkey >= 1
)
SELECT assembly, COUNT(*) AS n_parts,
       CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM comp JOIN part ON comp.node = part.p_partkey
GROUP BY assembly ORDER BY assembly
"""


def recursive_programs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of recursive_fib + recursive_bom_rollup (the
    union's own building blocks, one function each): the two bounded
    recursions tag-unioned into one (prog, k, v1, v2) relation so both
    earn a driver-graded hash row in a single slot. fib(40) and the
    counts fit a double exactly (< 2^53)."""
    from herodb_spark.operators.pipeline import recursive_fib

    nul = F.lit(None).cast("double")
    fib = recursive_fib(spark, sf_dir).select(
        F.lit("fib").alias("prog"),
        F.col("n").cast("long").alias("k"),
        F.col("fib").cast("double").alias("v1"),
        nul.alias("v2"),
    )
    bom = recursive_bom_rollup(spark, sf_dir).select(
        F.lit("bom").alias("prog"),
        F.col("assembly").alias("k"),
        F.col("n_parts").cast("double").alias("v1"),
        F.col("total_value").alias("v2"),
    )
    return fib.unionByName(bom).orderBy("prog", "k")


def _recursive_programs_sql() -> str:
    from herodb_spark.operators.pipeline import RECURSIVE_FIB_SQL

    return f"""
SELECT 'fib' AS prog, CAST(n AS BIGINT) AS k, CAST(fib AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
FROM ({RECURSIVE_FIB_SQL})
UNION ALL
SELECT 'bom' AS prog, assembly AS k, CAST(n_parts AS DOUBLE) AS v1, total_value AS v2
FROM ({RECURSIVE_BOM_SQL})
ORDER BY prog, k
"""


RECURSIVE_PROGRAMS_SQL = _recursive_programs_sql()
