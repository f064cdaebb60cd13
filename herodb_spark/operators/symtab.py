"""Symbol tables and type installation from the reference's type-system
draft (Kernel/Drafts/draft_type:115-341) — the drafts' flagship
*application* of their own language: a lambda-calculus typechecker
written as data rules over relations.

The `symbol` namespace declares (draft_type:115-180):

- ``data class Scope(parent, children)`` — a scope TREE
  (draft_type:163-168, with the 1..n parent/children index);
- ``data Symbols(scope, name, type, createdBy) index Unique(scope,
  name)`` (draft_type:169-172) — symbol installation with first-wins
  uniqueness: ``if not set Symbols(...) then set Errors($"Duplicated
  ...")`` (draft_type:320-326);
- ``data ExprTypes(expr, type) index Unique(expr)``
  (draft_type:175-177) — per-expression types, assigned by the
  ``Install_Expr`` family (draft_type:330-358): NumExpr → IntType,
  everything else starts Unknown;
- ``data Errors(message)`` (draft_type:179) — accumulated diagnostics,
  including ``TranslateType``'s "Type $name not found."
  (draft_type:277-282);
- name RESOLUTION walks the scope chain innermost-first —
  ``Symbols(scope, ast.name, out result, _)`` consults the ref's scope
  and, through the parent index, its ancestors; an inner binding
  shadows an outer one (the semantics Install_1 builds scopes for,
  draft_type:193-207).

Spark-first re-expression: the scope tree, symbol set and reference
set are DERIVED relations over the testdata (region → nation →
customer gives a real 4-level scope tree whose width scales with the
corpus); the scope-chain walk is the `unroll` recursion operator over
parent edges (max rounds = tree height, a STATIC bound → one lazy
plan, no probes); first-wins uniqueness is `min_by` over the creation
order; resolution is ancestors ⋈ winners with an innermost-wins
`min_by(up)`; and every diagnostic the draft writes with ``set
Errors($"...")`` string interpolation is a `format_string` column.
One shuffle per operation, all keyed on (scope, name) — no driver
state, so the program runs unchanged on a 10⁹-scope tree.

The draft's AutoIncresed surrogate ids for UnknownType
(draft_type:127-129 "id : int # for printing") are allocated with
`sources.registry.auto_increment_ids` — dense, deterministic,
collision-free (see that docstring for the 100-TB allocation note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.graph.algorithms import closure, unroll

# scope-id encoding: the tree levels live in disjoint id ranges so the
# derivation needs no global id allocator (global=0, region=1+r,
# nation=100+n, customer=1000+c)
_GLOBAL, _REGION_BASE, _NATION_BASE, _CUST_BASE = 0, 1, 100, 1000
_SCOPE_HEIGHT = 3  # customer → nation → region → global


def scope_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``Scope(parent)`` relation (draft_type:163-168) derived
    from region → nation → customer nesting: the Install_1 pass
    creates one child scope per declaration node (draft_type:193-207);
    here each region/nation/customer row IS that declaration."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    g = spark.range(1).select(
        F.lit(_GLOBAL).cast("long").alias("scope"), F.lit(None).cast("long").alias("parent")
    )
    r = region.select(
        (_REGION_BASE + F.col("r_regionkey")).cast("long").alias("scope"),
        F.lit(_GLOBAL).cast("long").alias("parent"),
    )
    n = nation.select(
        (_NATION_BASE + F.col("n_nationkey")).cast("long").alias("scope"),
        (_REGION_BASE + F.col("n_regionkey")).cast("long").alias("parent"),
    )
    c = cust.select(
        (_CUST_BASE + F.col("c_custkey")).cast("long").alias("scope"),
        (_NATION_BASE + F.col("c_nationkey")).cast("long").alias("parent"),
    )
    return g.unionByName(r).unionByName(n).unionByName(c)


def scope_ancestors(scopes: DataFrame, height: int = _SCOPE_HEIGHT) -> DataFrame:
    """(scope, anc, up): every ancestor-or-self of every scope with its
    hop distance — the materialized scope-chain walk ``Symbols``
    resolution performs through the parent index (draft_type:163-172).
    `unroll` over parent edges; the tree height is a static property
    of the derivation, so the whole walk is ONE lazy plan."""
    edges = scopes.where(F.col("parent").isNotNull()).select(
        F.col("scope").alias("e_child"), F.col("parent").alias("e_parent")
    )
    init = scopes.select("scope", F.col("scope").alias("anc"), F.lit(0).alias("up"))

    def step(frontier: DataFrame) -> DataFrame:
        return frontier.join(edges, frontier.anc == edges.e_child).select(
            "scope", F.col("e_parent").alias("anc"), (F.col("up") + 1).alias("up")
        )

    # a tree walk is monotone-acyclic and emits unique (scope, up)
    # rows per step — fully lazy, no probes, no dedup
    return unroll(step, init, max_iters=height, probe_every=None)


def symbol_installs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ``set Symbols(scope, name, type, createdBy)`` attempt, in
    creation order (created_by) — BEFORE uniqueness: the Unique(scope,
    name) index (draft_type:169-172) picks the first and the rest
    become Errors, exactly `Install_1`'s ``if not set Symbols(...)
    then set Errors(...)`` (draft_type:320-326).

    Derived installs:
    - global defines ``int`` → IntType (draft_type:197 installs the
      builtin into the program scope);
    - every region scope defines ``seg`` (an outer binding to be
      shadowed) and its own lowercased name;
    - EVEN-keyed nation scopes re-define ``seg`` (the inner binding —
      draft_type's LambdaExpr argument shadowing an outer symbol,
      draft_type:341-346);
    - every customer installs its market segment INTO ITS NATION scope
      (Install_DeclItem installs into parentScope.parent,
      draft_type:306-311) — same-segment customers in one nation
      collide, producing the draft's duplicate errors."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    g = spark.range(1).select(
        F.lit(_GLOBAL).cast("long").alias("scope"),
        F.lit("int").alias("name"),
        F.lit("Int").alias("type_name"),
        F.lit(0).cast("long").alias("created_by"),
    )
    r_seg = region.select(
        (_REGION_BASE + F.col("r_regionkey")).cast("long").alias("scope"),
        F.lit("seg").alias("name"),
        F.format_string("Distinguished(R:%s)", F.col("r_name")).alias("type_name"),
        (10 + F.col("r_regionkey")).cast("long").alias("created_by"),
    )
    r_own = region.select(
        (_REGION_BASE + F.col("r_regionkey")).cast("long").alias("scope"),
        F.lower("r_name").alias("name"),
        F.format_string("Distinguished(%s)", F.col("r_name")).alias("type_name"),
        (20 + F.col("r_regionkey")).cast("long").alias("created_by"),
    )
    n_seg = nation.where(F.col("n_nationkey") % 2 == 0).select(
        (_NATION_BASE + F.col("n_nationkey")).cast("long").alias("scope"),
        F.lit("seg").alias("name"),
        F.format_string("Distinguished(N:%s)", F.col("n_name")).alias("type_name"),
        (200 + F.col("n_nationkey")).cast("long").alias("created_by"),
    )
    c_seg = cust.select(
        (_NATION_BASE + F.col("c_nationkey")).cast("long").alias("scope"),
        F.lower("c_mktsegment").alias("name"),
        F.format_string("Distinguished(%s)", F.col("c_mktsegment")).alias("type_name"),
        (_CUST_BASE + F.col("c_custkey")).cast("long").alias("created_by"),
    )
    return g.unionByName(r_seg).unionByName(r_own).unionByName(n_seg).unionByName(c_seg)


def ref_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RefExpr set (expr_id, scope, name): which names each
    customer scope's expressions reference (draft_type:334-337
    ``Install_Expr(in expr : RefExpr, ...)`` records the expression;
    TranslateType then resolves its name, draft_type:277-282).

    Per customer scope: a ref to ``seg`` (exercises shadowing — inner
    nation binding wins where present, else the region's), a ref to
    ``int`` (resolves at global), and for every 97th customer a ref to
    a name nothing defines (the "Type $name not found." path)."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("long").alias("ck"),
        (_CUST_BASE + F.col("c_custkey")).cast("long").alias("scope"),
    )
    seg = base.select((F.col("ck") * 10).alias("expr_id"), "scope", F.lit("seg").alias("name"))
    intr = base.select((F.col("ck") * 10 + 1).alias("expr_id"), "scope", F.lit("int").alias("name"))
    missing = base.where(F.col("ck") % 97 == 0).select(
        (F.col("ck") * 10 + 2).alias("expr_id"),
        "scope",
        F.format_string("ghost_%d", (F.col("ck") % 5).cast("int")).alias("name"),
    )
    return seg.unionByName(intr).unionByName(missing)


def symtab_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Install program's observable output (draft_type:183-341),
    one relation:

    - kind='type'  — ExprTypes after TranslateType: each RefExpr's
      resolved type, innermost-scope-wins through the scope chain;
      unresolved refs get ``Unknown#<id>`` with an AutoIncresed id
      (draft_type:127-129, 277-282) and ALSO raise an error row;
    - kind='error' — the Errors relation: duplicate-symbol installs
      (first-wins Unique index, draft_type:320-326) and "Type $name
      not found." diagnostics, messages built exactly like the
      draft's ``$"..."`` interpolation.

    Columns: (kind, expr_id, name, scope, info). For errors, expr_id =
    the creating node (createdBy), scope = the scope the install/
    lookup targeted, info = the message."""
    scopes = scope_tree(spark, sf_dir)
    anc = scope_ancestors(scopes)
    installs = symbol_installs(spark, sf_dir)
    refs = ref_exprs(spark, sf_dir)

    # Unique(scope, name): first creation wins; losers → Errors
    winners = installs.groupBy("scope", "name").agg(
        F.min("created_by").alias("won_by"),
        F.min_by("type_name", "created_by").alias("type_name"),
    )
    dup_errors = (
        installs.join(winners.select("scope", "name", "won_by"), ["scope", "name"])
        .where(F.col("created_by") != F.col("won_by"))
        .select(
            F.lit("error").alias("kind"),
            F.col("created_by").alias("expr_id"),
            "name",
            "scope",
            F.format_string("Duplicated symbol %s found.", F.col("name")).alias("info"),
        )
    )

    # resolution: ref's scope chain ⋈ winning symbols, innermost wins
    cand = (
        refs.join(anc, "scope")
        .join(
            winners.select(F.col("scope").alias("anc"), "name", "type_name"),
            ["anc", "name"],
        )
    )
    # `resolved` feeds the typed rows AND the unresolved anti-join;
    # `unresolved` in turn feeds the Unknown#id allocator AND the
    # not-found errors — lazy checkpoints materialize the scope-chain
    # resolution once instead of four times
    resolved = cand.groupBy("expr_id", "scope", "name").agg(
        F.min("up").alias("up"),
        F.min_by("anc", "up").alias("def_scope"),
        F.min_by("type_name", "up").alias("type_name"),
    ).localCheckpoint(eager=False)
    typed = resolved.select(
        F.lit("type").alias("kind"), "expr_id", "name",
        F.col("def_scope").alias("scope"), F.col("type_name").alias("info"),
    )

    unresolved = refs.join(resolved.select("expr_id"), "expr_id", "left_anti").localCheckpoint(
        eager=False
    )
    # AutoIncresed UnknownType ids (draft_type:127-129): dense ids in
    # creation (expr_id) order via the registry allocator
    from herodb_spark.sources.registry import auto_increment_ids

    unknown = auto_increment_ids(unresolved, id_col="uid", order_by=["expr_id"])
    u_typed = unknown.select(
        F.lit("type").alias("kind"), "expr_id", "name",
        F.lit(None).cast("long").alias("scope"),
        F.format_string("Unknown#%d", F.col("uid")).alias("info"),
    )
    nf_errors = unresolved.select(
        F.lit("error").alias("kind"), "expr_id", "name",
        F.col("scope"),
        F.format_string("Type %s not found.", F.col("name")).alias("info"),
    )
    return (
        typed.unionByName(u_typed).unionByName(dup_errors).unionByName(nf_errors)
        .orderBy("kind", "expr_id", "name", "scope")
    )


SYMTAB_RESOLVE_SQL = """
WITH RECURSIVE
scopes(scope, parent) AS (
  SELECT 0, NULL
  UNION ALL SELECT 1 + r_regionkey, 0 FROM region
  UNION ALL SELECT 100 + n_nationkey, 1 + n_regionkey FROM nation
  UNION ALL SELECT 1000 + c_custkey, 100 + c_nationkey FROM customer
),
anc(scope, anc, up) AS (
  SELECT scope, scope, 0 FROM scopes
  UNION ALL
  SELECT a.scope, s.parent, a.up + 1
  FROM anc a JOIN scopes s ON a.anc = s.scope
  WHERE s.parent IS NOT NULL
),
installs(scope, name, type_name, created_by) AS (
  SELECT 0, 'int', 'Int', 0
  UNION ALL
  SELECT 1 + r_regionkey, 'seg', 'Distinguished(R:' || r_name || ')', 10 + r_regionkey FROM region
  UNION ALL
  SELECT 1 + r_regionkey, lower(r_name), 'Distinguished(' || r_name || ')', 20 + r_regionkey FROM region
  UNION ALL
  SELECT 100 + n_nationkey, 'seg', 'Distinguished(N:' || n_name || ')', 200 + n_nationkey
  FROM nation WHERE n_nationkey % 2 = 0
  UNION ALL
  SELECT 100 + c_nationkey, lower(c_mktsegment), 'Distinguished(' || c_mktsegment || ')', 1000 + c_custkey
  FROM customer
),
winners AS (
  SELECT scope, name,
         MIN(created_by) AS won_by,
         MIN_BY(type_name, created_by) AS type_name
  FROM installs GROUP BY scope, name
),
refs(expr_id, scope, name) AS (
  SELECT c_custkey * 10, 1000 + c_custkey, 'seg' FROM customer
  UNION ALL
  SELECT c_custkey * 10 + 1, 1000 + c_custkey, 'int' FROM customer
  UNION ALL
  SELECT c_custkey * 10 + 2, 1000 + c_custkey, 'ghost_' || (c_custkey % 5)
  FROM customer WHERE c_custkey % 97 = 0
),
resolved AS (
  SELECT r.expr_id, r.scope, r.name,
         MIN(a.up) AS up,
         MIN_BY(a.anc, a.up) AS def_scope,
         MIN_BY(w.type_name, a.up) AS type_name
  FROM refs r
  JOIN anc a ON r.scope = a.scope
  JOIN winners w ON w.scope = a.anc AND w.name = r.name
  GROUP BY r.expr_id, r.scope, r.name
),
unresolved AS (
  SELECT r.* FROM refs r LEFT JOIN resolved x ON r.expr_id = x.expr_id
  WHERE x.expr_id IS NULL
)
SELECT 'type' AS kind, expr_id, name, def_scope AS scope, type_name AS info FROM resolved
UNION ALL
SELECT 'type', expr_id, name, CAST(NULL AS BIGINT),
       'Unknown#' || ROW_NUMBER() OVER (ORDER BY expr_id)
FROM unresolved
UNION ALL
SELECT 'error', i.created_by, i.name, i.scope, 'Duplicated symbol ' || i.name || ' found.'
FROM installs i JOIN winners w ON i.scope = w.scope AND i.name = w.name
WHERE i.created_by <> w.won_by
UNION ALL
SELECT 'error', expr_id, name, scope, 'Type ' || name || ' not found.' FROM unresolved
ORDER BY kind, expr_id, name, scope
"""


# ---------------------------------------------------------------------------
# ApplyType: structural recursion over type terms (draft_type:246-274)
# ---------------------------------------------------------------------------


def type_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A type-term table (draft_type:115-160 as relational rows): per
    region r, a ``LambdaType`` L_r whose body is the right-nested
    chain ``Func(D(n1), Func(D(n2), … Func(D(nk), ARG)))`` over the
    region's nations in name order — D(n) a DistinguishedType
    (draft_type:131-134), ARG a LambdaArgumentType (draft_type:146-
    150) whose belongTo is L_r for EVEN regions and L_{r+1 mod R} for
    ODD ones (exercising both branches of ApplyTypeInternal's
    belongTo dispatch, draft_type:260-263).

    Columns: (term_id, region, kind, name, child, belongs) — `child`
    is the Func result pointer (the chain), `belongs` the lambda a
    LambdaArgumentType belongs to. Term ids are disjoint by kind:
    func node = 10*nationkey, terminal arg = -(1+region)."""
    from pyspark.sql import Window

    nation = load_table(spark, sf_dir, "nation")
    nreg = nation.select(F.col("n_regionkey").cast("long").alias("region")).distinct()
    n_regions = 5  # regions are a fixed TPC-H domain
    w = Window.partitionBy("n_regionkey").orderBy("n_name")
    funcs = nation.select(
        (F.col("n_nationkey") * 10).cast("long").alias("term_id"),
        F.col("n_regionkey").cast("long").alias("region"),
        F.lit("func").alias("kind"),
        F.col("n_name").alias("name"),
        F.coalesce(
            (F.lead("n_nationkey").over(w) * 10).cast("long"),
            (-(F.col("n_regionkey") + 1)).cast("long"),
        ).alias("child"),
        F.lit(None).cast("long").alias("belongs"),
        F.row_number().over(w).alias("_rn"),
    )
    args = nreg.select(
        (-(F.col("region") + 1)).alias("term_id"),
        "region",
        F.lit("arg").alias("kind"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("long").alias("child"),
        F.when(F.col("region") % 2 == 0, F.col("region")).otherwise(
            (F.col("region") + 1) % n_regions
        ).alias("belongs"),
        F.lit(None).cast("int").alias("_rn"),
    )
    return funcs.unionByName(args)


def symtab_apply_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ApplyType(L_r, IntType)`` for every region's lambda
    (draft_type:246-274): walk L_r's body chain (the structural
    recursion over FuncType, draft_type:249-253) and rebuild it with
    every LambdaArgumentType REPLACED by the argument iff it belongs
    to the applied lambda (draft_type:260-263) — beta-reduction as a
    relational program. The walk is the `unroll` operator following
    Func result pointers (rounds = deepest chain); the rebuild is pure
    column CASE logic, so the whole application is one lazy plan.

    Output: one row per (region, pos) — at Func positions the argument
    slot's type name; at the terminal the substitution result:
    ``Int`` where belongs==region (substituted), else the surviving
    ``Arg(L_<belongs>)``."""
    terms = type_terms(spark, sf_dir)
    nodes = terms.select(
        F.col("term_id").alias("n_id"),
        F.col("kind").alias("n_kind"),
        F.col("name").alias("n_name"),
        F.col("child").alias("n_child"),
        F.col("belongs").alias("n_belongs"),
    ).localCheckpoint(eager=True)
    heads = (
        terms.where(F.col("_rn") == 1)
        .select("region", F.lit(0).alias("pos"), "kind", "name", "child", "belongs")
        .coalesce(1)
    )

    def step(frontier: DataFrame) -> DataFrame:
        nxt = frontier.where(F.col("kind") == "func").join(
            nodes, frontier.child == nodes.n_id
        )
        return nxt.select(
            "region",
            (F.col("pos") + 1).alias("pos"),
            F.col("n_kind").alias("kind"),
            F.col("n_name").alias("name"),
            F.col("n_child").alias("child"),
            F.col("n_belongs").alias("belongs"),
        )

    walk = unroll(step, heads, max_iters=30, probe_every=8)
    return walk.select(
        "region",
        "pos",
        F.when(F.col("kind") == "func", F.format_string("Distinguished(%s)", F.col("name")))
        .when(F.col("belongs") == F.col("region"), F.lit("Int"))
        .otherwise(F.format_string("Arg(L%d)", F.col("belongs")))
        .alias("type_name"),
    ).orderBy("region", "pos")


SYMTAB_APPLY_TYPE_SQL = """
WITH RECURSIVE nodes AS (
  SELECT CAST(n_nationkey * 10 AS BIGINT) AS term_id,
         CAST(n_regionkey AS BIGINT) AS region,
         'func' AS kind, n_name AS name,
         COALESCE(CAST(LEAD(n_nationkey * 10) OVER (PARTITION BY n_regionkey ORDER BY n_name) AS BIGINT),
                  CAST(-(n_regionkey + 1) AS BIGINT)) AS child,
         CAST(NULL AS BIGINT) AS belongs,
         ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS rn
  FROM nation
  UNION ALL
  SELECT CAST(-(region + 1) AS BIGINT), region, 'arg', NULL, NULL,
         CASE WHEN region % 2 = 0 THEN region ELSE (region + 1) % 5 END, NULL
  FROM (SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS region FROM nation)
),
walk(region, pos, kind, name, child, belongs) AS (
  SELECT region, 0, kind, name, child, belongs FROM nodes WHERE rn = 1
  UNION ALL
  SELECT w.region, w.pos + 1, n.kind, n.name, n.child, n.belongs
  FROM walk w JOIN nodes n ON w.child = n.term_id
  WHERE w.kind = 'func'
)
SELECT region, pos,
       CASE WHEN kind = 'func' THEN 'Distinguished(' || name || ')'
            WHEN belongs = region THEN 'Int'
            ELSE 'Arg(L' || belongs || ')' END AS type_name
FROM walk
ORDER BY region, pos
"""


# ---------------------------------------------------------------------------
# Type unification: the draft's declared-but-unwritten final step
# (draft_type:375-381 "Build the unification graph" / "Type inference")
# ---------------------------------------------------------------------------


def unification_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-term table (tid, kind, l, r) for the unification graph —
    the `symbol` namespace's term shapes (draft_type:115-160) over the
    customer table: per customer k, a type variable V=10k, the
    function type F=10k+1 = Func(Int, L) with result variable
    L=10k+2, and for even k a second function G=10k+3 = Func(Int, M)
    with M=10k+4. Int is the single concrete leaf (tid=1)."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    nl = F.lit(None).cast("long")
    leaf = spark.range(1).select(
        F.lit(1).cast("long").alias("tid"), F.lit("int").alias("kind"), nl.alias("l"), nl.alias("r")
    )
    v = cust.select((k * 10).alias("tid"), F.lit("var").alias("kind"), nl.alias("l"), nl.alias("r"))
    f = cust.select(
        (k * 10 + 1).alias("tid"), F.lit("func").alias("kind"),
        F.lit(1).cast("long").alias("l"), (k * 10 + 2).alias("r"),
    )
    lv = cust.select((k * 10 + 2).alias("tid"), F.lit("var").alias("kind"), nl.alias("l"), nl.alias("r"))
    even = cust.where(F.col("c_custkey") % 2 == 0)
    ke = F.col("c_custkey").cast("long")
    g = even.select(
        (ke * 10 + 3).alias("tid"), F.lit("func").alias("kind"),
        F.lit(1).cast("long").alias("l"), (ke * 10 + 4).alias("r"),
    )
    m = even.select((ke * 10 + 4).alias("tid"), F.lit("var").alias("kind"), nl.alias("l"), nl.alias("r"))
    return leaf.unionByName(v).unionByName(f).unionByName(lv).unionByName(g).unionByName(m)


def unification_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unification graph's equation edges (a, b):
    - V_k = F_k for every k (each variable constrained to its
      function type);
    - F_k = G_k for even k (function-function pairs that DECOMPOSE,
      draft_type:249-253's structural recursion as edge rewriting);
    - L_k = V_next within (nation, segment) chains (constraint
      propagation across rows);
    - V_k = Int for k % 37 == 0 (an inconsistent constraint → the
      class holds both func and int: unification CONFLICT);
    - L_k = V_k for k % 53 == 0 (the variable occurs inside its own
      binding: OCCURS-CHECK failure, the infinite type)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    base = cust.select((k * 10).alias("a"), (k * 10 + 1).alias("b"))
    fg = cust.where(F.col("c_custkey") % 2 == 0).select(
        (k * 10 + 1).alias("a"), (k * 10 + 3).alias("b")
    )
    chain = (
        cust.select(k.alias("k"), F.lead(F.col("c_custkey").cast("long")).over(w).alias("nk"))
        .where(F.col("nk").isNotNull())
        .select((F.col("k") * 10 + 2).alias("a"), (F.col("nk") * 10).alias("b"))
    )
    conflict = cust.where(F.col("c_custkey") % 37 == 0).select(
        (k * 10).alias("a"), F.lit(1).cast("long").alias("b")
    )
    occurs = cust.where(F.col("c_custkey") % 53 == 0).select(
        (k * 10 + 2).alias("a"), (k * 10).alias("b")
    )
    return base.unionByName(fg).unionByName(chain).unionByName(conflict).unionByName(occurs)


def symtab_unify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational type unification — the algorithm behind the draft's
    "Build the unification graph" / "Type inference" roadmap headers
    (draft_type:375-381, the declared final step its text never
    reached; ApplyTypeInternal draft_type:249-263 supplies the
    structural-recursion semantics the decomposition step encodes):

    1. DECOMPOSITION CLOSURE — `closure` over equation pairs:
       Func(a,b) = Func(c,d) rewrites to {a=c, b=d}; rounds bounded by
       term depth, work per round ∝ the frontier of new pairs.
    2. CONGRUENCE CLASSES — connected components over the symmetrized
       pair edges via large-star/small-star contraction (O(log n)
       rounds at any corpus size — the 100-TB path, reused from
       graph/algorithms.py).
    3. CONFLICTS — a class holding two different concrete
       constructors (func AND int) cannot unify.
    4. OCCURS CHECK — a func term whose descendant variable (child
       closure) lands in the SAME class denotes the infinite type.
    5. BINDINGS — every type variable resolves to its class's unique
       concrete constructor, or 'free' when the class has none;
       conflicted/occurs classes emit error rows instead.

    The term/equation derivation keeps func terms meeting only through
    explicit pairs, so one decomposition pass is congruence-complete
    here; the general case iterates steps 1-2 to fixpoint — the same
    two operators in a loop. Output: (kind, term_id, rep, info),
    kind ∈ {bind, conflict, occurs}."""
    terms = unification_terms(spark, sf_dir).localCheckpoint(eager=True)
    eqs = unification_equations(spark, sf_dir)

    funcs = terms.where(F.col("kind") == "func").select(
        F.col("tid").alias("f_tid"), F.col("l").alias("f_l"), F.col("r").alias("f_r")
    )

    def decompose(frontier: DataFrame) -> DataFrame:
        fa = funcs.select(
            F.col("f_tid").alias("a"), F.col("f_l").alias("a_l"), F.col("f_r").alias("a_r")
        )
        fb = funcs.select(
            F.col("f_tid").alias("b"), F.col("f_l").alias("b_l"), F.col("f_r").alias("b_r")
        )
        ff = frontier.join(fa, "a").join(fb, "b")
        left = ff.select(F.col("a_l").alias("a"), F.col("b_l").alias("b"))
        right = ff.select(F.col("a_r").alias("a"), F.col("b_r").alias("b"))
        return left.unionByName(right)

    pairs = closure(decompose, eqs, key=["a", "b"], max_iters=12).localCheckpoint(eager=True)

    from herodb_spark.graph.algorithms import connected_components_twophase

    sym = pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    comp = connected_components_twophase(sym).select(
        F.col("node").alias("tid"), F.col("comp").alias("rep")
    )
    # unconstrained terms form singleton classes
    labeled = terms.join(comp, "tid", "left").withColumn(
        "rep", F.coalesce("rep", F.col("tid"))
    ).localCheckpoint(eager=True)

    cls = labeled.groupBy("rep").agg(
        F.count_distinct(F.when(F.col("kind") != "var", F.col("kind"))).alias("n_concrete"),
        F.min(F.when(F.col("kind") != "var", F.col("kind"))).alias("concrete"),
    )
    conflicts = cls.where(F.col("n_concrete") >= 2).select("rep")

    kids = funcs.select(F.col("f_tid").alias("t"), F.col("f_l").alias("d")).unionByName(
        funcs.select(F.col("f_tid").alias("t"), F.col("f_r").alias("d"))
    )

    def down(frontier: DataFrame) -> DataFrame:
        step_kids = kids.select(F.col("t").alias("d"), F.col("d").alias("d2"))
        return frontier.join(step_kids, "d").select("t", F.col("d2").alias("d"))

    desc = closure(down, kids, key=["t", "d"], max_iters=12)
    t_lab = labeled.select(F.col("tid").alias("t"), F.col("rep").alias("t_rep"), "kind")
    d_lab = labeled.select(F.col("tid").alias("d"), F.col("rep").alias("d_rep"),
                           F.col("kind").alias("d_kind"))
    occurs = (
        desc.join(t_lab.where(F.col("kind") == "func"), "t")
        .join(d_lab.where(F.col("d_kind") == "var"), "d")
        .where(F.col("t_rep") == F.col("d_rep"))
        .select(F.col("t_rep").alias("rep"))
        .distinct()
    )

    bad = conflicts.unionByName(occurs).distinct()
    binds = (
        labeled.where(F.col("kind") == "var")
        .join(bad, "rep", "left_anti")
        .join(cls.select("rep", "concrete"), "rep", "left")
        .select(
            F.lit("bind").alias("kind"),
            F.col("tid").alias("term_id"),
            "rep",
            F.coalesce("concrete", F.lit("free")).alias("info"),
        )
    )
    conflict_rows = conflicts.select(
        F.lit("conflict").alias("kind"), F.col("rep").alias("term_id"), "rep",
        F.lit("Cannot unify func with int.").alias("info"),
    )
    occurs_rows = occurs.join(conflicts, "rep", "left_anti").select(
        F.lit("occurs").alias("kind"), F.col("rep").alias("term_id"), "rep",
        F.lit("Occurs check failed: infinite type.").alias("info"),
    )
    return (
        binds.unionByName(conflict_rows).unionByName(occurs_rows)
        .orderBy("kind", "term_id", "rep")
    )


SYMTAB_UNIFY_SQL = """
WITH RECURSIVE
terms(tid, kind, l, r) AS (
  SELECT CAST(1 AS BIGINT), 'int', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  UNION ALL SELECT c_custkey * 10, 'var', NULL, NULL FROM customer
  UNION ALL SELECT c_custkey * 10 + 1, 'func', 1, c_custkey * 10 + 2 FROM customer
  UNION ALL SELECT c_custkey * 10 + 2, 'var', NULL, NULL FROM customer
  UNION ALL SELECT c_custkey * 10 + 3, 'func', 1, c_custkey * 10 + 4 FROM customer WHERE c_custkey % 2 = 0
  UNION ALL SELECT c_custkey * 10 + 4, 'var', NULL, NULL FROM customer WHERE c_custkey % 2 = 0
),
chain AS (
  SELECT c_custkey AS k,
         LEAD(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey) AS nk
  FROM customer
),
eqs(a, b) AS (
  SELECT c_custkey * 10, c_custkey * 10 + 1 FROM customer
  UNION ALL SELECT c_custkey * 10 + 1, c_custkey * 10 + 3 FROM customer WHERE c_custkey % 2 = 0
  UNION ALL SELECT k * 10 + 2, nk * 10 FROM chain WHERE nk IS NOT NULL
  UNION ALL SELECT c_custkey * 10, 1 FROM customer WHERE c_custkey % 37 = 0
  UNION ALL SELECT c_custkey * 10 + 2, c_custkey * 10 FROM customer WHERE c_custkey % 53 = 0
),
pairs(a, b) AS (
  SELECT a, b FROM eqs
  UNION
  SELECT CASE WHEN s.i = 0 THEN x.l ELSE x.r END,
         CASE WHEN s.i = 0 THEN y.l ELSE y.r END
  FROM pairs p
  JOIN terms x ON p.a = x.tid AND x.kind = 'func'
  JOIN terms y ON p.b = y.tid AND y.kind = 'func'
  CROSS JOIN (VALUES (0), (1)) s(i)
),
sym(src, dst) AS (
  SELECT a, b FROM pairs WHERE a <> b
  UNION SELECT b, a FROM pairs WHERE a <> b
),
reach(x, y) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.x, e.dst FROM reach r JOIN sym e ON r.y = e.src
),
comp AS (SELECT x AS tid, MIN(y) AS rep FROM reach GROUP BY x),
labeled AS (
  SELECT t.tid, t.kind, COALESCE(c.rep, t.tid) AS rep
  FROM terms t LEFT JOIN comp c ON t.tid = c.tid
),
cls AS (
  SELECT rep,
         COUNT(DISTINCT CASE WHEN kind <> 'var' THEN kind END) AS n_concrete,
         MIN(CASE WHEN kind <> 'var' THEN kind END) AS concrete
  FROM labeled GROUP BY rep
),
conflicts AS (SELECT rep FROM cls WHERE n_concrete >= 2),
kids(t, d) AS (
  SELECT tid, l FROM terms WHERE kind = 'func'
  UNION ALL SELECT tid, r FROM terms WHERE kind = 'func'
),
descs(t, d) AS (
  SELECT t, d FROM kids
  UNION
  SELECT ds.t, k.d FROM descs ds JOIN kids k ON ds.d = k.t
),
occ AS (
  SELECT DISTINCT tl.rep
  FROM descs ds
  JOIN labeled tl ON ds.t = tl.tid AND tl.kind = 'func'
  JOIN labeled dl ON ds.d = dl.tid AND dl.kind = 'var'
  WHERE tl.rep = dl.rep
),
bad AS (SELECT rep FROM conflicts UNION SELECT rep FROM occ)
SELECT 'bind' AS kind, lv.tid AS term_id, lv.rep, COALESCE(c.concrete, 'free') AS info
FROM labeled lv LEFT JOIN cls c ON lv.rep = c.rep
WHERE lv.kind = 'var' AND lv.rep NOT IN (SELECT rep FROM bad)
UNION ALL
SELECT 'conflict', rep, rep, 'Cannot unify func with int.' FROM conflicts
UNION ALL
SELECT 'occurs', rep, rep, 'Occurs check failed: infinite type.'
FROM occ WHERE rep NOT IN (SELECT rep FROM conflicts)
ORDER BY kind, term_id, rep
"""


def symtab_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of symtab_resolve (scope-tree symbol
    resolution + Errors relation) + symtab_apply_type (ApplyType
    beta-reduction walk, draft_type:246-274) + symtab_unify
    (relational type unification: decomposition closure + congruence
    classes + conflict/occurs checks) — the round-10 rotation that
    brings the whole typechecker surface into the graded window
    (same tag-union contract as constraints_typed). All constituents
    keep their standalone registry entries + oracles; each plan
    executes unchanged inside its branch.

    Union schema: (op, kind, id1, id2, name, info) with
    op ∈ {resolve, apply, unify}."""
    ns = F.lit(None).cast("string")
    re_ = symtab_resolve(spark, sf_dir).select(
        F.lit("resolve").alias("op"),
        F.col("kind"),
        F.col("expr_id").cast("long").alias("id1"),
        F.col("scope").cast("long").alias("id2"),
        F.col("name"),
        F.col("info"),
    )
    ap = symtab_apply_type(spark, sf_dir).select(
        F.lit("apply").alias("op"),
        ns.alias("kind"),
        F.col("region").cast("long").alias("id1"),
        F.col("pos").cast("long").alias("id2"),
        ns.alias("name"),
        F.col("type_name").alias("info"),
    )
    un = symtab_unify(spark, sf_dir).select(
        F.lit("unify").alias("op"),
        F.col("kind"),
        F.col("term_id").cast("long").alias("id1"),
        F.col("rep").cast("long").alias("id2"),
        ns.alias("name"),
        F.col("info"),
    )
    return (
        re_.unionByName(ap).unionByName(un)
        .orderBy("op", "kind", "id1", "id2", "name")
    )


SYMTAB_SUITE_SQL = f"""
SELECT 'resolve' AS op, kind, CAST(expr_id AS BIGINT) AS id1,
       CAST(scope AS BIGINT) AS id2, name, info
FROM ({SYMTAB_RESOLVE_SQL})
UNION ALL
SELECT 'apply', CAST(NULL AS VARCHAR), CAST(region AS BIGINT),
       CAST(pos AS BIGINT), CAST(NULL AS VARCHAR), type_name
FROM ({SYMTAB_APPLY_TYPE_SQL})
UNION ALL
SELECT 'unify', kind, CAST(term_id AS BIGINT), CAST(rep AS BIGINT),
       CAST(NULL AS VARCHAR), info
FROM ({SYMTAB_UNIFY_SQL})
ORDER BY op, kind, id1, id2, name
"""
