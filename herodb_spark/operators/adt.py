"""Algebraic data types and class hierarchies from the reference's
type-system draft (Kernel/Drafts/draft_type).

Two surfaces, both re-expressed as relational programs over the
testdata:

1. `adt_list_ops` — draft_type:5-15: ``data List a = List a | Empty``
   with recursive ``reverse`` / ``concat``. A tagged-union TERM TABLE
   holds the cons cells (kind-tagged rows with a next-pointer); the
   recursive traversal runs through the `unroll` recursion operator
   (the same machinery as the Fib recurrence), and the accumulator
   recursions become position arithmetic over the flattened lists —
   the Spark-first re-expression: recursion extracts the ORDER, the
   list-algebra (reverse, append) is then pure Catalyst column math
   instead of n sequential self-joins.

2. `class_hierarchy` — draft_type:19-110 (``namespace ast``): a class
   inheritance table (``class Type : Node``, ``class RefType : Type``,
   …), its subtype transitive closure computed with `unroll`, and a
   kind-tagged shared-prefix instance relation dispatched by subtype
   membership — "all concrete subtypes of Expression" with per-class
   field aggregates.

Scale notes: the class/edge tables are tiny metadata (broadcast
everywhere); the data-scale side is the instance/term scan, which
stays one pass with ordinary shuffled aggregation. List traversal work
is proportional to Σ list length (the frontier follows one pointer per
list per round); at 100 TB you bound rounds by the longest list, not
the corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.graph.algorithms import unroll
from herodb_spark.session import literal_df

MAX_LIST_LEN = 30


def list_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tagged-union term table for ``data List a = List a | Empty``
    (draft_type:5): one 'cons' row per nation (value = nationkey,
    next_id = next nation in the region by name), one 'empty'
    terminal row per region. Every region's nations form one list."""
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_name")
    cons = nation.select(
        F.col("n_regionkey").cast("long").alias("region"),
        F.col("n_nationkey").cast("long").alias("node_id"),
        F.lit("cons").alias("tag"),
        F.col("n_nationkey").cast("long").alias("value"),
        F.coalesce(
            F.lead("n_nationkey").over(w).cast("long"),
            (-(F.col("n_regionkey") + 1)).cast("long"),
        ).alias("next_id"),
        F.row_number().over(w).alias("_rn"),
    )
    empty = (
        nation.select(F.col("n_regionkey").cast("long").alias("region"))
        .distinct()
        .select(
            "region",
            (-(F.col("region") + 1)).alias("node_id"),
            F.lit("empty").alias("tag"),
            F.lit(None).cast("long").alias("value"),
            F.lit(None).cast("long").alias("next_id"),
            F.lit(None).cast("int").alias("_rn"),
        )
    )
    return cons.unionByName(empty)


def _flatten_lists(terms: DataFrame) -> DataFrame:
    """Recursive traversal of the cons chains via `unroll` — the
    ``switch a (Empty : …, List c d : …)`` dispatch (draft_type:7-10)
    is the tag filter in the step join; the frontier follows one
    pointer per list per round, so rounds = longest list."""
    heads = terms.where(F.col("_rn") == 1).select(
        "region", F.lit(0).alias("pos"), "value", "next_id"
    ).coalesce(1)
    # distinct column names: the frontier shares lineage with `terms`
    # after the first hop, so same-named columns would be ambiguous
    nodes = terms.select(
        "node_id",
        F.col("tag").alias("n_tag"),
        F.col("value").alias("n_value"),
        F.col("next_id").alias("n_next"),
    ).localCheckpoint(eager=True)

    def step(frontier: DataFrame) -> DataFrame:
        nxt = frontier.join(nodes, frontier.next_id == nodes.node_id).where(
            F.col("n_tag") == "cons"
        )
        return nxt.select(
            "region",
            (F.col("pos") + 1).alias("pos"),
            F.col("n_value").alias("value"),
            F.col("n_next").alias("next_id"),
        )

    # a cons chain is monotone-acyclic with unique (region, pos) per
    # step: no anti-join, no per-step dedup
    flat = unroll(step, heads, max_iters=MAX_LIST_LEN, probe_every=8)
    return flat.select("region", "pos", "value")


def adt_list_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``reverse`` and ``concat`` over the region nation-lists
    (draft_type:5-15). reverse_'s accumulator (prepend while
    traversing) assigns element i of an n-list position n-1-i;
    ``concat a b = reverse_ (reverse a) b`` appends, offsetting b's
    positions by len(a). Output: one row per (op, list key, position)
    with the element value; concat k pairs list k with list k+1."""
    flat = _flatten_lists(list_terms(spark, sf_dir)).localCheckpoint(eager=True)
    cnt = flat.groupBy("region").agg(F.count(F.lit(1)).alias("len"))
    rev = (
        flat.join(cnt, "region")
        .select(
            F.lit("reverse").alias("op"),
            F.col("region").alias("k"),
            (F.col("len") - 1 - F.col("pos")).cast("int").alias("pos"),
            "value",
        )
    )
    regions = cnt.select(F.col("region").alias("k"), "len")
    pairs = regions.alias("a").join(
        regions.alias("b"), F.col("a.k") + 1 == F.col("b.k")
    ).select(F.col("a.k").alias("k"), F.col("a.len").alias("len_a"))
    part_a = (
        flat.join(pairs, flat.region == pairs.k)
        .select(F.lit("concat").alias("op"), "k", F.col("pos").cast("int").alias("pos"), "value")
    )
    part_b = (
        flat.join(pairs, flat.region == pairs.k + 1)
        .select(
            F.lit("concat").alias("op"),
            "k",
            (F.col("len_a") + F.col("pos")).cast("int").alias("pos"),
            "value",
        )
    )
    return rev.unionByName(part_a).unionByName(part_b).orderBy("op", "k", "pos")


ADT_LIST_OPS_SQL = """
WITH RECURSIVE nodes AS (
  SELECT CAST(n_regionkey AS BIGINT) AS region,
         CAST(n_nationkey AS BIGINT) AS node_id,
         CAST(n_nationkey AS BIGINT) AS value,
         LEAD(CAST(n_nationkey AS BIGINT)) OVER (PARTITION BY n_regionkey ORDER BY n_name) AS next_id,
         ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS rn
  FROM nation
),
walk(region, pos, value, next_id) AS (
  SELECT region, 0, value, next_id FROM nodes WHERE rn = 1
  UNION ALL
  SELECT w.region, w.pos + 1, n.value, n.next_id
  FROM walk w JOIN nodes n ON w.next_id = n.node_id
),
flat AS (SELECT region, pos, value FROM walk),
cnt AS (SELECT region, COUNT(*) AS len FROM flat GROUP BY region),
pairs AS (
  SELECT a.region AS k, a.len AS len_a
  FROM cnt a JOIN cnt b ON a.region + 1 = b.region
)
SELECT 'reverse' AS op, f.region AS k, CAST(c.len - 1 - f.pos AS INT) AS pos, f.value
FROM flat f JOIN cnt c ON f.region = c.region
UNION ALL
SELECT 'concat', p.k, CAST(f.pos AS INT), f.value
FROM flat f JOIN pairs p ON f.region = p.k
UNION ALL
SELECT 'concat', p.k, CAST(p.len_a + f.pos AS INT), f.value
FROM flat f JOIN pairs p ON f.region = p.k + 1
ORDER BY op, k, pos
"""


# (class, parent) — the ast namespace hierarchy, draft_type:19-110
CLASS_EDGES = [
    ("Type", "Node"),
    ("RefType", "Type"),
    ("ApplyType", "Type"),
    ("Expression", "Node"),
    ("NumExpr", "Expression"),
    ("RefExpr", "Expression"),
    ("LambdaExpr", "Expression"),
    ("ApplyExpr", "Expression"),
    ("MatchExpr", "Expression"),
    ("MatchItem", "Node"),
    ("Declaration", "Node"),
    ("DataDecl", "Declaration"),
    ("FuncDecl", "Declaration"),
    ("Argument", "Node"),
    ("DataItem", "Node"),
    ("Program", "Node"),
]

# the five concrete Expression leaves, in event_id % 5 dispatch order
_EXPR_KINDS = ["NumExpr", "RefExpr", "LambdaExpr", "ApplyExpr", "MatchExpr"]


def _hierarchy_height() -> int:
    """Longest child chain in CLASS_EDGES — computed driver-side (the
    hierarchy is static metadata), so the closure below runs EXACTLY
    the needed number of steps with zero convergence probes. The
    previous fixed max_iters=10 built a 10-deep nested-join plan whose
    Catalyst analysis alone cost ~15 s at every call — iteration
    bounds on static metadata should come from the metadata."""
    children: dict[str, list[str]] = {}
    for child, parent in CLASS_EDGES:
        children.setdefault(parent, []).append(child)
    memo: dict[str, int] = {}

    def depth(c: str) -> int:
        if c not in memo:
            memo[c] = 1 + max((depth(k) for k in children.get(c, ())), default=-1)
        return memo[c]

    return max(depth(p) for p in children)


def subtype_closure(spark: SparkSession, root: str) -> DataFrame:
    """(cls, depth) for every transitive subtype of `root`, computed
    with the `unroll` recursion operator over the inheritance edges —
    the draft's implicit "a RefType IS a Type IS a Node" dispatch
    relation, materialized."""
    # distinct column name (`child`): the frontier shares lineage with
    # the edge table after the first hop
    edges = literal_df(spark, CLASS_EDGES, "child string, parent string")
    init = literal_df(spark, [(root, 0)], "cls string, depth int")

    def step(frontier: DataFrame) -> DataFrame:
        return frontier.join(edges, frontier.cls == edges.parent).select(
            F.col("child").alias("cls"), (F.col("depth") + 1).alias("depth")
        )

    # the hierarchy is a tree: monotone-acyclic, unique classes per
    # step, statically bounded → one fully-lazy plan, no probes
    return unroll(step, init, max_iters=_hierarchy_height(), probe_every=None)


def ast_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged shared-prefix instance relation: every event row is
    an ast.Expression node (draft_type:43-76). Common prefix:
    (node_id, kind); subtype fields stay in the same wide row, NULL
    where the subtype lacks them — `number` only on NumExpr
    (draft_type:45-48), `name` only on RefExpr/LambdaExpr
    (draft_type:50-59). Dispatch is deterministic: event_id % 5."""
    ev = load_table(spark, sf_dir, "events")
    kind = F.element_at(F.array(*[F.lit(k) for k in _EXPR_KINDS]), (F.col("event_id") % 5 + 1).cast("int"))
    has_number = F.col("kind") == "NumExpr"
    has_name = F.col("kind").isin("RefExpr", "LambdaExpr")
    return ev.select(
        F.col("event_id").alias("node_id"),
        kind.alias("kind"),
        F.col("event_type").alias("_name_src"),
        F.col("value").alias("_num_src"),
    ).select(
        "node_id",
        "kind",
        F.when(has_name, F.col("_name_src")).cast("string").alias("name"),
        F.when(has_number, F.floor("_num_src")).cast("long").alias("number"),
    )


def class_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All concrete subtypes of Expression with instance statistics:
    subtype closure (broadcast — it is metadata) joined against the
    kind-tagged instance scan. Per class: inheritance depth below
    Expression, instance count, how many carry the `name` field, and
    the NumExpr `number` total — the "all concrete subtypes of X with
    field Y" query shape over a shared-prefix schema."""
    subs = subtype_closure(spark, "Expression").where(F.col("depth") > 0)
    inst = ast_instances(spark, sf_dir)
    return (
        inst.join(F.broadcast(subs), inst.kind == subs.cls)
        .groupBy("cls", "depth")
        .agg(
            F.count(F.lit(1)).alias("n_instances"),
            F.count("name").alias("n_named"),
            F.coalesce(F.sum("number"), F.lit(0)).alias("sum_number"),
        )
        .orderBy("cls")
    )


_EDGE_VALUES = ", ".join(f"('{c}', '{p}')" for c, p in CLASS_EDGES)
_KIND_CASE = "CASE event_id % 5 " + " ".join(
    f"WHEN {i} THEN '{k}'" for i, k in enumerate(_EXPR_KINDS)
) + " END"

CLASS_HIERARCHY_SQL = f"""
WITH RECURSIVE edges(cls, parent) AS (VALUES {_EDGE_VALUES}),
sub(cls, depth) AS (
  SELECT 'Expression', 0
  UNION ALL
  SELECT e.cls, s.depth + 1 FROM sub s JOIN edges e ON e.parent = s.cls
),
inst AS (
  SELECT event_id AS node_id,
         {_KIND_CASE} AS kind,
         event_type, value
  FROM events
)
SELECT s.cls, s.depth,
       COUNT(*) AS n_instances,
       CAST(COUNT(CASE WHEN i.kind IN ('RefExpr','LambdaExpr') THEN i.event_type END) AS BIGINT) AS n_named,
       CAST(COALESCE(SUM(CASE WHEN i.kind = 'NumExpr' THEN CAST(FLOOR(i.value) AS BIGINT) END), 0) AS BIGINT) AS sum_number
FROM inst i JOIN sub s ON i.kind = s.cls
WHERE s.depth > 0
GROUP BY s.cls, s.depth
ORDER BY s.cls
"""


def adt_class_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of adt_list_ops (tagged-union term table +
    reverse/concat, draft_type:5-15) + class_hierarchy (subtype
    closure + shared-prefix dispatch, draft_type:19-110) — merged in
    round 8 to free a graded slot for the pyds connector; both
    constituents keep standalone registry entries + oracles.
    Tag-union shape: (q, k1, n1, n2, n3, n4)."""
    nl = F.lit(None).cast("long")
    a = adt_list_ops(spark, sf_dir).select(
        F.lit("adt").alias("q"),
        F.col("op").alias("k1"),
        F.col("k").alias("n1"),
        F.col("pos").cast("long").alias("n2"),
        F.col("value").alias("n3"),
        nl.alias("n4"),
    )
    b = class_hierarchy(spark, sf_dir).select(
        F.lit("class").alias("q"),
        F.col("cls").alias("k1"),
        F.col("depth").cast("long").alias("n1"),
        F.col("n_instances").alias("n2"),
        F.col("n_named").alias("n3"),
        F.col("sum_number").alias("n4"),
    )
    return a.unionByName(b).orderBy("q", "k1", "n1", "n2")


ADT_CLASS_OPS_SQL = f"""
SELECT 'adt' AS q, op AS k1, k AS n1, CAST(pos AS BIGINT) AS n2,
       value AS n3, CAST(NULL AS BIGINT) AS n4
FROM ({ADT_LIST_OPS_SQL})
UNION ALL
SELECT 'class', cls, CAST(depth AS BIGINT), n_instances, n_named, sum_number
FROM ({CLASS_HIERARCHY_SQL})
ORDER BY q, k1, n1, n2
"""
