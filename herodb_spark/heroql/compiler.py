"""HeroQL → DataFrame compiler.

Each rule body compiles to ONE declarative DataFrame expression —
joins for positive atoms, left-anti / left-semi joins for `not` /
`exists` (draft:108-111), filters for comparisons, `withColumn` for
`=` bindings — so Catalyst sees the whole rule as a single logical
plan: predicate pushdown, join reordering and broadcast selection all
apply exactly as if the query had been hand-written against the
DataFrame API. There is no row-at-a-time interpretation anywhere.

Semantics (bottom-up / safe Datalog):
- Rules are evaluated bottom-up with set semantics (DISTINCT per
  head), so every rule must be RANGE-RESTRICTED: each head variable
  bound by a positive body atom or an `=` binding. Non-ground facts
  (e.g. the accumulator base case `case Fib_(a, b, index, index, b);`
  of draft:87) are top-down constructs and are rejected with a clear
  error — the bounded-recursion operators in graph/algorithms.py are
  the mapping for those.
- Recursive rule sets (draft:80-89) evaluate as a SEMI-NAIVE
  inflationary fixpoint per dependency-graph SCC, capped at
  `max_iters` rounds, through graph/algorithms.seminaive: every round
  derives only from the previous round's DELTAS (one Δ-substitution
  per positive recursive atom — multi-table mutual recursion and
  non-linear rules included); the kernel subtracts the state from the
  new facts and checkpoints each round's delta and state. The draft's
  doubly-recursive Fib runs verbatim: round k derives Fib(k+2), so
  `query (o) :- Fib(10, o)` needs 8 rounds, each joining a 1-row
  delta, not the full state.
- Pattern arguments may be linear expressions of ONE unbound variable
  (`Fib(a-1, x)` binds a = i+1 from the matched row) — the inversion
  that makes the draft's recursive cases range-restricted.
- `data class` atoms bind ROW variables: `Person(p)` binds p to the
  class key and every field as p.field (draft:30-42, 59-62); fields
  typed as another data class deref through ONE key join per
  (variable, class) — a broadcast-friendly equi-join at scale.
- Relation members (`parents * children : Person, n..n`, draft:36-38)
  are edge tables `<Class>__<member>`; the inverse member reads the
  same table swapped. `p.parents(q)` / `exists p.children(_)` compile
  to joins / semi-joins on them.

Scale notes: a HeroQL program's non-recursive rules cost exactly what
the equivalent hand-written DataFrame program costs — the compiler
adds projections only. Recursive SCCs run the same `seminaive` round
loop as graph/algorithms.closure (its one-relation case): per-round
join work scales with the frontier, not the accumulated state. The
compiler only supplies each SCC's seeds and its Δ-substituting
derivation (_eval_seminaive_scc). Mutations rewrite the table
DataFrame lazily and localCheckpoint every few statements so statement
loops don't accumulate unbounded lineage.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from herodb_spark.graph.algorithms import seminaive
from herodb_spark.heroql import parser as P
from herodb_spark.session import literal_df


class HeroQLError(Exception):
    pass


class _Unbound(HeroQLError):
    """A variable was referenced before any atom bound it."""

    def __init__(self, name: str):
        super().__init__(f"unbound variable {name!r}")
        self.name = name


class _SkipRule(Exception):
    """A recursive atom's state is still empty this round."""


_TYPE_MAP = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "string": T.StringType(),
    "char": T.StringType(),
    "bool": T.BooleanType(),
}


@dataclass
class RelEntry:
    """How a class member name reaches its edge table: `swapped` reads
    the inverse direction; `card` is the member's cardinality as seen
    from this side (draft:36-38); `symmetric` unions both directions
    on read (self-inverse members like spouse)."""
    edge: str
    swapped: bool
    card: str
    symmetric: bool


def _invert_card(card: str) -> str:
    lo, hi = card.split("..")
    return f"{hi}..{lo}"


@dataclass
class TableDef:
    name: str
    fields: list[str]
    types: list[str] | None = None  # HeroQL type names, parallel to fields
    is_class: bool = False
    key: str | None = None
    where: object = None
    indexes: list = dc_field(default_factory=list)


class Frame:
    """A partially-evaluated rule body: `df` holds one column per
    bound variable (plus `var__field` columns for deref'd class
    fields); `vars` maps each variable to its data-class name (None
    for scalars) so later derefs know which table to join."""

    def __init__(self, hql: "HeroQL"):
        self.hql = hql
        self.df: DataFrame | None = None
        self.vars: dict[str, str | None] = {}

    def has(self, v: str) -> bool:
        return v in self.vars

    def col(self, v: str):
        if not self.has(v):
            raise _Unbound(v)
        return self.df[v]

    def ensure_field(self, v: str, fname: str) -> str:
        """Make `v__fname` available, deref-joining v's class table
        once per variable if needed."""
        cname = f"{v}__{fname}"
        if self.df is not None and cname in self.df.columns:
            return cname
        cls = self.vars.get(v)
        if cls is None:
            raise HeroQLError(f"variable {v!r} is a scalar; cannot access field {fname!r}")
        cdef = self.hql._def(cls)
        if fname not in cdef.fields:
            raise HeroQLError(f"{cls} has no field {fname!r}")
        ctab = self.hql.table(cls)
        missing = [f for f in cdef.fields if f"{v}__{f}" not in self.df.columns]
        add = ctab.select(
            F.col(cdef.key).alias("__dk"),
            *[F.col(f).alias(f"{v}__{f}") for f in missing],
        )
        self.df = self.df.join(add, self.df[v] == add["__dk"], "inner").drop("__dk")
        return cname


class _ExprCtx:
    """The one name rule of every HeroQL body: a name is a local bind
    in `extra` (var -> Column: an atom's own binds, an out-query's
    arguments and `<-` locals, a mutation's pattern columns and `=`
    locals, a procedure's parameters), else a `frame` variable, else an
    enum member, else a global. `classes` maps a local bind that holds
    a class key to its class, so it dereferences without a frame."""

    def __init__(self, hql: "HeroQL", frame: Frame | None, extra: dict | None = None):
        self.hql = hql
        self.frame = frame
        self.extra = extra or {}
        self.classes: dict[str, str] = {}

    def resolve(self, name: str):
        if name in self.extra:
            return self.extra[name]
        if self.frame is not None and self.frame.has(name):
            return self.frame.col(name)
        member = self.hql._enum_member(name)
        if member is not None:
            return F.lit(member)
        if name in self.hql.globals:  # GLOBAL READONLY VALUE
            return F.lit(self.hql.globals[name])
        raise _Unbound(name)


class RunResult:
    """Outcome of HeroQL.run(): `queries` holds one DataFrame per
    `query` / `collection_query` in program order; `named` the
    `let`-bound ones by name."""

    def __init__(self):
        self.queries: list[DataFrame] = []
        self.named: dict[str, DataFrame] = {}
        #: maintenance-statement reports in program order:
        #: (kind, table, report dict)
        self.maintenance: list[tuple] = []


class HeroQL:
    """A HeroQL session bound to a SparkSession.

    register() binds base (`data`) tables to DataFrames; run() parses
    and executes a program. Derived (rule-defined) tables are
    evaluated on demand and memoized; any mutation invalidates the
    memo (draft:67-72 cached computation tables — `uncache` does the
    same selectively)."""

    _CHECKPOINT_EVERY = 8  # mutations between lineage truncations

    def __init__(self, spark: SparkSession, max_iters: int = 32):
        self.spark = spark
        self.max_iters = max_iters
        self.defs: dict[str, TableDef] = {}
        self.enums: dict[str, list[str]] = {}
        self.types: dict[str, dict] = {}  # struct/union/class TYPE decls (draft:1-24)
        self.tables: dict[str, DataFrame] = {}
        # durable (snapshot-backed) tables: name -> SnapshotTable;
        # mutations on these commit through the table's OCC protocol
        self._snapshots: dict = {}
        # manifest version each cached session frame was resolved at:
        # EVERY read of a snapshot table — cached frame or zone-map-
        # pruned re-resolve — goes through this pin, so one query can
        # never mix two table versions under a concurrent writer
        # (r7 advice)
        self._snapshot_versions: dict[str, int] = {}
        # bound SnapshotDatabase (register_database) + active
        # multi-statement transaction (run_transactional)
        self._db = None
        self._txn = None
        self.rules: dict[str, list[P.Rule]] = {}
        self.relations: dict[tuple, tuple] = {}  # (class, member) -> (edge_table, swapped)
        self._pending: dict[str, list[tuple]] = {}
        # source text of the statement currently executing + of the
        # pending `set` statements per table (batched by _flush): both
        # feed the durable commits' program log (Rewrite.md:6)
        self._cur_src: str | None = None
        self._pending_src: dict[str, list[str]] = {}
        self._memo: dict[str, DataFrame] = {}
        # CACHED-QUERY protocol (Kernel/README.md "Cached Query"):
        # standalone `index Name { Hash(col) }` declarations register
        # cache keys here; constant-bound atoms on indexed columns
        # resolve through _qcache with the calculating-status recursion
        # stop. Entries pin report-sized per-value subsets
        # (localCheckpoint) and are wiped with the memos on mutation.
        self.query_indexes: dict[str, list[list[str]]] = {}
        # output-argument query functions (Kernel/README.md "Output
        # only argument"): name -> OutQueryDecl, inlined at call sites
        self.outqueries: dict[str, object] = {}
        # @-command dialect surfaces (Kernel/README.md QUERY/UPDATE
        # sections): relational named queries (`@partition` /
        # `@order_by_desc` / `@aggregate` bodies — derived relations,
        # memoized like rules) and procedure queries (`@insert` /
        # `@update` / `@remove` bodies — invoked as `Name(args);`)
        self.atqueries: dict[str, object] = {}
        self.procs: dict[str, object] = {}
        # standalone `index N {...}` declared BEFORE its relation
        # (the README's "the order is not important") — applied when
        # the name is declared
        self._deferred_indexes: dict[str, list] = {}
        self._qcache: dict[tuple, tuple] = {}  # key -> (status, df)
        self._qcache_stats = {"hits": 0, "misses": 0}
        # incremental maintenance of memoized derivations (draft:67-72
        # Cache'd computation tables): inserts append (base, batch) to
        # the delta log; each memo records the log position it has
        # absorbed. Non-monotone mutations (update/remove) wipe both.
        self._delta_log: list[tuple[str, DataFrame]] = []
        self._memo_pos: dict[str, int] = {}
        self._incremental_hits = 0  # observable in tests
        self._mutations = 0
        self._ns: list[str] = []  # namespace stack, active while executing a program
        self._using: list[str] = []  # `using namespace` search paths (session-wide)
        # DATA PACKAGES (Kernel/README.md DATA PACKAGE / GLOBAL
        # READONLY VALUE / TRANSACTION): a declared package records
        # PRISTINE deep copies of its items (canonicalization mutates
        # the AST, and `x <- new P.` replays them inside the
        # instance's namespace — "install the package again"), its
        # `using` imports, and which member names are `public`
        # (draft:190 — only public symbols usable across packages).
        # Instances track their package, optional parent instance and
        # the fork-time table refs: DataFrames are immutable, so
        # object identity IS the mutated-since-fork test merge uses.
        self.packages: dict[str, dict] = {}
        self.instances: dict[str, dict] = {}
        self.globals: dict[str, object] = {}  # GLOBAL READONLY VALUEs
        self._cur_pkg: str | None = None
        self._replaying = False  # inside `new P` replay (no re-record)

    # ------------------------------------------------------------ setup

    def register(
        self,
        name: str,
        df: DataFrame,
        fields: list[str] | None = None,
        is_class: bool = False,
        key: str | list[str] | None = None,
    ) -> None:
        """Bind a base table. `fields` renames/reorders positional
        arguments (defaults to the DataFrame's columns). `key` may be
        a COLUMN LIST for composite-key tables (snapshot tables with
        multi-column key_cols): the single-key slot then stays unset —
        nothing key-dependent silently binds keys[0] — and a
        synthesized `Unique(<keys>)` index makes if-not-set /
        ensure-set address the full list. Plain in-memory `set`
        remains APPEND regardless (replace-on-key applies to durable
        tables — which merge on key_cols — and to single-column
        `index Unique(k)` declarations, the r6 semantics note).
        Class tables bind row variables through ONE key column, so
        is_class + composite key is rejected."""
        cols = list(df.columns)
        if fields is not None:
            if len(fields) != len(cols):
                raise HeroQLError(f"{name}: {len(fields)} fields for {len(cols)} columns")
            df = df.select([F.col(c).alias(f) for c, f in zip(cols, fields)])
            cols = fields
        keys = [key] if isinstance(key, str) else (list(key) if key else None)
        if keys and len(keys) > 1 and is_class:
            raise HeroQLError(
                f"{name}: class rows bind through ONE key column; composite "
                f"key {keys} is not supported for is_class tables"
            )
        self.tables[name] = df
        if name not in self.defs:
            single = keys[0] if keys and len(keys) == 1 else None
            guessed = None if (keys and len(keys) > 1) else self._guess_key(cols)
            # an EXPLICIT composite key list synthesizes the Unique
            # index, so key-set features (if-not-set, ensure-set)
            # address the full list; single-key registration keeps
            # its historical semantics (no implicit index — declare
            # `index Unique(k)` for in-memory replace-on-key `set`)
            indexes = (
                [P.IndexDef(["Unique"], list(keys))]
                if keys and len(keys) > 1
                else []
            )
            self.defs[name] = TableDef(
                name, cols, None, is_class, single or guessed, None, indexes
            )
        else:
            d = self.defs[name]
            if d.fields != cols:
                raise HeroQLError(f"{name}: registered columns {cols} != declared {d.fields}")
        self._memo.clear()
        self._memo_pos.clear()
        self._delta_log.clear()
        self._qcache.clear()

    def register_snapshot(
        self, name: str, snap, is_class: bool = False, version: int | None = None
    ) -> None:
        """Bind a DURABLE base table: a sources/snapshot.SnapshotTable.
        The language's mutation statements (draft:128-136) then
        persist — `set` commits a MERGE, `update :-` an update_where,
        `remove :-` a delete_where, each an atomic copy-on-write
        version with OCC — and `snap.history()` shows one commit per
        statement; time travel to pre-mutation states keeps working.
        Action-dialect mutations (draft_type `for query` programs) are
        whole-frame rewrites by construction and commit through
        `overwrite` — durable, but rewrite ∝ table size, so prefer
        statement mutations on large tables. Columns are the table's
        own (no positional renames: the snapshot key_cols must stay
        addressable).

        COMPOSITE-KEY tables bind with the FULL key list threaded
        through (round-7 advice — previously rejected): the durable
        merge dedupes on all key_cols, a synthesized
        `index Unique(<key_cols>)` makes `if not set` and uniqueness
        address every key column, and no single-key feature silently
        binds keys[0] (TableDef.key stays unset). Only is_class +
        composite is rejected — row variables bind through one key.

        SEMANTICS NOTE — `set` on existing keys: the durable path
        always merges on the snapshot's key_cols (a restated key
        replaces the row, last statement wins). The in-memory path
        matches when the program declares `index Unique(k)` on the
        table; without that declaration an in-memory `set` appends a
        fact. Declare the unique index to keep programs portable
        between in-memory and snapshot-backed runs."""
        m = snap._load()
        # `version` pins the frame explicitly (register_database passes
        # each member's DATABASE pin so registration costs exactly one
        # read per table — r8 review finding); default: the table's
        # own current
        if version is None:
            version = m["current"]
        df = snap.read(version=version)
        keys = m["key_cols"]
        self.register(name, df, is_class=is_class, key=keys or None)
        if keys:
            # the snapshot's key_cols ARE unique by construction
            # (merge_upsert enforces it): surface that to key-set
            # language features (if-not-set, uniqueness) without
            # requiring a redundant program declaration
            d = self.defs[name]
            if not any("Unique" in ix.kinds for ix in d.indexes):
                d.indexes = list(d.indexes) + [P.IndexDef(["Unique"], list(keys))]
        self._snapshots[name] = snap
        self._snapshot_versions[name] = version

    def register_database(self, db, tables: list[str] | None = None) -> None:
        """Bind every member table of a sources/database.
        SnapshotDatabase. Mutations then commit at DATABASE scope: a
        `run_transactional()` program publishes ALL its table
        mutations with one atomic pointer swap (the reference's
        transaction model, Rewrite.md:3-16), and a plain `run()`
        wraps each mutation statement in its own single-statement
        database transaction — either way the database pin set is
        never left behind the member tables. Runs recovery first, so
        a crashed predecessor's half-applied leftovers are healed
        before this session reads.

        Composite-key members register like any other (the full key
        list threads through, round-7 advice); `self.skipped_tables`
        remains as an always-empty compatibility attribute for
        callers that checked it."""
        db.recover()
        self.skipped_tables: list[str] = []
        # register each member AT ITS DATABASE PIN directly: one read
        # per table, and a live concurrent writer's unpublished member
        # version (ahead of the pin, inside the recovery grace window)
        # is never observed
        pins = db.tables()
        for name in tables if tables is not None else sorted(pins):
            if name not in pins:
                raise HeroQLError(f"{name!r} is not a member of this database")
            self.register_snapshot(name, db.table(name), version=pins[name])
        self._db = db

    def run_transactional(self, text: str):
        """Execute a program as ONE multi-table transaction: every
        durable mutation applies through the database transaction
        (eager member-table OCC commits, read-your-writes inside the
        program) and the database pointer swings once at the end — a
        crash or error mid-program leaves every reader on the
        pre-state, and recovery discards the orphaned table versions
        (the `Install`-family atomicity the reference's draft programs
        assume)."""
        if self._db is None:
            raise HeroQLError("run_transactional requires register_database first")
        if self._txn is not None:
            raise HeroQLError("nested run_transactional is not supported")
        try:
            with self._db.transaction() as t:
                self._txn = t
                try:
                    # re-pin member frames to the transaction's base
                    # pin set so the program reads the snapshot it
                    # will be validated against (the session frames
                    # may pre-date an interleaved publish)
                    for name in list(self._snapshots):
                        if name in t._base_pins:
                            self._snapshot_reload(name)
                    out = self.run(text)
                finally:
                    self._txn = None
        finally:
            # after the pointer swap — or an abort — the published
            # pin set is authoritative again: drop the transaction-
            # private pins so no session frame references a member
            # version recovery may roll back
            members = self._db.tables()
            for name in list(self._snapshots):
                if name in members:
                    self._snapshot_reload(name)
        return out

    # ---- data-package instances (Kernel/README.md USING DATA
    # PACKAGE: instantiate independent / inherit / merge / discard).
    # The DURABLE analog is sources/branch.py (db.branch/merge — the
    # graded db_branch_merge surface); these are the in-session
    # instances the README's `Students <- new StudentPackage.` binds.

    def _instantiate(self, var: str, ne: "P.NewExpr", out: RunResult) -> None:
        """`var <- new P [from Other].` — replay P's recorded pristine
        declarations inside namespace `var` ("install the package
        again as a fresh instance"); with `from`, adopt the parent
        instance's current table contents by reference (DataFrames
        are immutable — O(1) copy-on-write fork) and record the fork
        refs for merge's three-way check."""
        pkg = self.packages.get(ne.package)
        if pkg is None:
            raise HeroQLError(f"unknown package {ne.package!r}")
        parent = None
        if ne.parent is not None:
            parent = self.instances.get(ne.parent)
            if parent is None:
                raise HeroQLError(f"{ne.parent!r} is not a package instance")
            if parent["package"] != ne.package:
                raise HeroQLError(
                    f"cannot inherit {ne.package} instance from "
                    f"{ne.parent} (a {parent['package']} instance)"
                )
        import copy as _copy

        save = (self._ns, self._cur_pkg, self._using, self._replaying)
        self._ns, self._cur_pkg, self._replaying = [var], ne.package, True
        self._using = list(pkg["uses"]) + [
            u for u in self._using if u not in pkg["uses"]
        ]
        try:
            scratch = RunResult()
            for it in pkg["items"]:
                self._exec_item(_copy.deepcopy(it), scratch)
            for name in [n for n in self._pending if n.startswith(var + "::")]:
                self._flush(name)  # seed `set` rows materialize now
        finally:
            self._ns, self._cur_pkg, self._using, self._replaying = save
        inst = {"package": ne.package, "parent": ne.parent, "fork": {}}
        if ne.parent is not None:
            pfix, vfix = ne.parent + "::", var + "::"
            for name in [n for n in self._pending if n.startswith(pfix)]:
                self._flush(name)
            # adopt every BASE table (declared data + relation edges;
            # rule/@-query derivations recompute from them) by
            # materialized reference: table() caches one stable frame
            # per name, so object identity is the mutated-since-fork
            # test merge later applies to both sides
            for k in sorted(self.defs):
                if not k.startswith(vfix):
                    continue
                if k in self.rules or k in self.atqueries:
                    continue
                tail = k[len(vfix):]
                pk = f"{pfix}{tail}"
                if pk not in self.defs or pk in self.rules or pk in self.atqueries:
                    continue
                src = self.table(pk)
                self.tables[k] = src
                inst["fork"][tail] = src
            self._memo = {
                k: v for k, v in self._memo.items() if not k.startswith(vfix)
            }
        self.instances[var] = inst

    def _discard_instance(self, name: str) -> None:
        """`discard X;` — drop instance X and everything under `X::`.
        Refused while another instance inherits from X (the
        reference's delete-as-a-whole dependency check)."""
        if name not in self.instances:
            raise HeroQLError(f"{name!r} is not a package instance")
        kids = sorted(
            n for n, e in self.instances.items() if e["parent"] == name
        )
        if kids:
            raise HeroQLError(
                f"cannot discard {name!r}: dependent instance(s) {kids} "
                "inherit from it (discard or merge them first)"
            )
        del self.instances[name]
        prefix = name + "::"
        for d in (
            self.tables, self.defs, self.rules, self._memo, self.enums,
            self.types, self.procs, self.outqueries, self.atqueries,
            self._pending, self._pending_src, self.query_indexes,
            self._snapshots, self._snapshot_versions, self._memo_pos,
            self._deferred_indexes,
        ):
            for k in [k for k in d if isinstance(k, str) and k.startswith(prefix)]:
                del d[k]
        for k in [k for k in self._qcache if k[0].startswith(prefix)]:
            del self._qcache[k]
        for k in [
            k for k in self.relations
            if isinstance(k[0], str) and k[0].startswith(prefix)
        ]:
            del self.relations[k]

    def _merge_instance(self, name: str) -> None:
        """`merge X;` — three-way merge of inheriting instance X back
        to its parent at TABLE granularity (the in-session analog of
        branch merge): child-mutated tables the parent left untouched
        are adopted; both-sides-mutated tables CANCEL with a conflict
        (the reference's rollback-conflicted rule); the instance is
        discarded after a successful merge."""
        inst = self.instances.get(name)
        if inst is None:
            raise HeroQLError(f"{name!r} is not a package instance")
        if inst["parent"] is None:
            raise HeroQLError(
                f"{name!r} is an independent instance — nothing to merge into"
            )
        par = inst["parent"]
        for n in [
            n for n in self._pending
            if n.startswith(name + "::") or n.startswith(par + "::")
        ]:
            self._flush(n)
        adopted, conflicts = [], []
        for tail, fork_df in inst["fork"].items():
            mine = self.tables.get(f"{name}::{tail}")
            theirs = self.tables.get(f"{par}::{tail}")
            if mine is fork_df:
                continue  # child untouched: parent's state stands
            if theirs is not fork_df:
                conflicts.append(tail)
            else:
                adopted.append(tail)
        if conflicts:
            raise HeroQLError(
                f"merge {name}: conflict on table(s) {sorted(conflicts)} — "
                "both the instance and its parent mutated them since the "
                "fork (rollback-conflicted; re-fork and retry)"
            )
        for tail in adopted:
            self.tables[f"{par}::{tail}"] = self.tables[f"{name}::{tail}"]
            self._after_mutation(f"{par}::{tail}")
        self._discard_instance(name)

    def _exec_maintain(self, item: "P.MaintainStmt", out: RunResult) -> None:
        """Storage maintenance IN the language (so a durable-layer
        user never drops to Python for operations either): `optimize`
        = small-file compaction, `optimize ... cluster_by` = z-order
        clustering with per-file zone maps, `vacuum` = retention GC.
        All are content-identical layout/retention operations — memos
        and rule caches stay valid; only the cached frame re-resolves
        (a vacuum can delete files the old frame referenced).

        Database routing mirrors _commit_mutation: member tables
        publish through the pin swap (a bare table-level commit would
        be healed away as a crash leftover); `vacuum database` is the
        only vacuum shape under a database (table-level retention
        would break pinned versions). Inside run_transactional,
        optimize/cluster apply through the open transaction; vacuum
        is refused (GC is not a transactional operation)."""
        if item.kind == "vacuum" and item.name is None:
            if self._db is None:
                raise HeroQLError("`vacuum database` needs a registered database")
            if self._txn is not None:
                raise HeroQLError("vacuum cannot run inside a transactional program")
            report = self._db.vacuum(keep_last=item.keep_last)
            # GC may have deleted files a cached member frame still
            # references (stale out-of-band reads) — re-resolve every
            # registered member, like the table-level path does
            for n in self._snapshots:
                if n in self._db.tables():
                    self._snapshot_reload(n)
            out.maintenance.append(("vacuum", None, report))
            return
        name = self._resolve_ref(item.name)
        snap = self._snapshots.get(name)
        if snap is None:
            raise HeroQLError(
                f"maintenance statement targets {item.name!r}, which is not a "
                "durable snapshot table"
            )
        in_db = self._db is not None and name in self._db.tables()
        if item.kind == "vacuum":
            if in_db:
                raise HeroQLError(
                    f"{item.name}: member tables cannot be vacuumed individually "
                    "(retention would break database pins) — use `vacuum database keep N;`"
                )
            if self._txn is not None:
                raise HeroQLError("vacuum cannot run inside a transactional program")
            report = snap.vacuum(keep_last=item.keep_last)
        elif item.kind == "optimize":
            if self._txn is not None and name in self._txn._base_pins:
                report = self._txn.compact(name)
            elif in_db:
                report = self._db.compact(names=[name]).get(name, {"compacted": []})
            else:
                report = snap.compact()
        else:  # cluster
            if self._txn is not None and name in self._txn._base_pins:
                report = self._txn.cluster(name, item.cluster_by)
            elif in_db:
                report = self._db.cluster(name, item.cluster_by)
            else:
                report = snap.cluster(item.cluster_by)
        self._snapshot_reload(name)
        out.maintenance.append((item.kind, name, report))

    def _commit_mutation(
        self, name: str, method: str, *args, program: str | None = None
    ) -> None:
        """Single durable-commit choke point: inside a
        run_transactional program, apply through the database
        transaction (published later by the pointer swap); with a
        bound database but no active transaction, wrap this one
        statement in its own database transaction; standalone
        snapshot tables commit directly.

        The HeroQL statement text that produced the mutation (the
        executing item's source span, unless the caller batched
        several — _flush) is persisted in the manifest version entry
        (Rewrite.md:6 "save query to log"): `history()` then audits
        PROGRAMS, and replaying the logged statements from version 0
        rebuilds the table (pinned in tests/test_heroql.py)."""
        if program is None:
            program = self._cur_src
        if self._txn is not None and name in self._txn._base_pins:
            getattr(self._txn, method)(name, *args, program=program)
        elif self._db is not None and name in self._db.tables():
            with self._db.transaction() as t:
                getattr(t, method)(name, *args, program=program)
        else:
            getattr(self._snapshots[name], method)(*args, program=program)
        self._snapshot_reload(name)

    def _snapshot_reload(self, name: str) -> None:
        """After a durable commit the session frame must re-resolve
        from the new manifest (and any memo built over the old frame
        is stale — mutations already wipe memos). The frame is PINNED
        to an explicit version — the active transaction's private
        version (read-your-writes), else the database pin, else the
        table's current — and the pin is recorded so zone-map-pruned
        re-resolves (_zone_map_overrides) read the SAME version: a
        concurrent writer advancing the table mid-query can never
        make one rule body mix two table versions (r7 advice)."""
        snap = self._snapshots[name]
        if self._txn is not None and name in self._txn._base_pins:
            v = self._txn._new_pins.get(name, self._txn._base_pins[name])
        elif self._db is not None and name in self._db.tables():
            v = self._db.tables()[name]
        else:
            v = snap._load()["current"]
        self.tables[name] = snap.read(version=v)
        self._snapshot_versions[name] = v

    def _install_table(self, name: str, df: DataFrame) -> None:
        """Single choke point for FULL-FRAME table rewrites (the
        action dialect's shape). In-memory tables rebind; snapshot-
        backed tables commit the frame as one `overwrite` version so
        action mutations are never silently non-durable."""
        snap = self._snapshots.get(name)
        if snap is None:
            self.tables[name] = df
            return
        self._commit_mutation(name, "overwrite", df)

    @staticmethod
    def _guess_key(cols: list[str]) -> str:
        return "id" if "id" in cols else cols[0]

    def _key_cols(self, name: str) -> list[str]:
        """The columns that identify a row of `name`, on which `set`
        replaces and which `update` may not assign: a snapshot table's
        key_cols, else the single column the program DECLARED unique
        (`index Unique(k)`). Multi-column Unique indexes and guessed
        keys don't qualify (facts append)."""
        snap = self._snapshots.get(name)
        if snap is not None:
            return list(snap._load()["key_cols"])
        for ix in getattr(self.defs.get(name), "indexes", None) or []:
            if "Unique" in ix.kinds and len(ix.cols) == 1 and "." not in ix.cols[0]:
                return [ix.cols[0]]
        return []

    def _def(self, name: str) -> TableDef:
        if name not in self.defs:
            raise HeroQLError(f"unknown table {name!r}")
        return self.defs[name]

    def _enum_member(self, name: str) -> str | None:
        hits = [m for members in self.enums.values() for m in members if m == name]
        return hits[0] if len(hits) == 1 else None

    # ------------------------------------------------------------ run

    def run(self, text: str) -> RunResult:
        prog = P.parse(text)
        out = RunResult()
        try:
            for item in prog.items:
                self._exec_item(item, out)
            # pending `set` batches flush lazily on the next read —
            # but a DURABLE table's inserts must not outlive the
            # program unpersisted (and inside run_transactional they
            # must commit before the pointer swap), so force-flush
            # those here
            for name in [n for n in self._pending if n in self._snapshots]:
                self._flush(name)
        finally:
            # a stale statement text must never be attributed to a
            # LATER commit made outside any program (e.g. through the
            # Python API after this run returns)
            self._cur_src = None
        return out

    # ---- namespaces (draft:168-197): declarations inside a namespace
    # block register under `NS::name`; references canonicalize at
    # declaration time (innermost namespace outward, then `using`
    # paths), so lazily-evaluated rules keep working after the block
    # closes. Databases/modules proper live in herodb_spark/namespace.py.

    def _qualify(self, name: str) -> str:
        if self._ns and "::" not in name:
            return "::".join(self._ns + [name])
        return name

    def _resolve_type(self, t: str) -> str:
        return t if t in _TYPE_MAP else self._resolve_ref(t)

    def _resolve_ref(self, name: str) -> str:
        def known(n: str) -> bool:
            return (
                n in self.defs or n in self.rules or n in self.tables
                or n in self.enums or n in self.types
                or n in self.procs or n in self.outqueries
            )

        if known(name):
            self._vis_check(name)
            return name
        for i in range(len(self._ns), 0, -1):
            cand = "::".join(self._ns[:i] + [name])
            if known(cand):
                return cand  # own-package/namespace scope: no vis check
        hits = [f"{u}::{name}" for u in self._using if known(f"{u}::{name}")]
        if len(hits) > 1:
            raise HeroQLError(f"ambiguous name {name!r}: {sorted(hits)}")
        if hits:
            self._vis_check(hits[0])
            return hits[0]
        return self._qualify(name)  # forward reference in the current namespace

    def _vis_check(self, resolved: str) -> None:
        """Cross-package visibility (draft:190 "If a database
        references another database, all public symbol is usable"):
        a qualified reference into another package — or into an
        INSTANCE of one — must name a `public` member. Own-package
        references (current package == owner, or resolution through
        the namespace stack) are unrestricted."""
        head, sep, tail = resolved.partition("::")
        if not sep:
            return
        inst = self.instances.get(head)
        owner = inst["package"] if inst is not None else head
        if owner not in self.packages or owner == self._cur_pkg:
            return
        if tail not in self.packages[owner]["public"]:
            raise HeroQLError(
                f"{resolved}: {tail!r} is private to package {owner} "
                "(mark it `public` to use it from outside)"
            )

    def _canon_atom(self, atom: P.Atom) -> None:
        if atom.member_of is None:
            atom.name = self._resolve_ref(atom.name)
        for a in atom.args:
            self._canon_expr(a)

    def _canon_expr(self, e) -> None:
        if isinstance(e, P.StructPattern):
            e.ctor = self._resolve_ref(e.ctor)
            for a in e.args:
                self._canon_expr(a)
            return
        if isinstance(e, P.FieldAccess) and isinstance(e.base, P.Var):
            r = self._resolve_ref(e.base.name)
            if r in self.enums:
                e.base.name = r
            return
        if isinstance(e, P.BinOp):
            self._canon_expr(e.left)
            self._canon_expr(e.right)
        elif isinstance(e, P.UnaryOp):
            self._canon_expr(e.operand)
        elif isinstance(e, P.IfExpr):
            self._canon_expr(e.cond)
            self._canon_expr(e.then)
            if e.other is not None:
                self._canon_expr(e.other)
        elif isinstance(e, P.InterpString):
            for p in e.parts:
                if not isinstance(p, str):
                    self._canon_expr(p)

    def _canon_body(self, body: list) -> None:
        for lit in body:
            if isinstance(lit, P.Atom):
                self._canon_atom(lit)
            elif isinstance(lit, (P.NotLit, P.ExistsLit)):
                self._canon_atom(lit.atom)
            elif isinstance(lit, P.AssignLit):
                self._canon_expr(lit.expr)
            elif isinstance(lit, P.CallLit):
                lit.name = self._resolve_ref(lit.name)
                for a in lit.args:
                    self._canon_expr(a)
            elif isinstance(lit, (P.CompareLit, P.EnsureLit)):
                self._canon_expr(lit.expr)
            elif isinstance(lit, P.MutCmdLit):
                lit.atom.name = self._resolve_ref(lit.atom.name)
                for a in lit.atom.args:
                    if not isinstance(a, (P.Wildcard, P.AtMarked)):
                        self._canon_expr(a)
            elif isinstance(lit, P.PartitionCmd):
                for k in lit.keys:
                    self._canon_expr(k)
            elif isinstance(lit, P.AggregateCmd):
                for _fn, arg in lit.items:
                    self._canon_expr(arg)
            elif isinstance(lit, P.OrderCmd):
                self._canon_expr(lit.expr)

    # item types a package records for `new P` replay: declarations
    # plus `set` seed rows ("a database instance is an installed
    # database WITH data", draft:189)
    _PKG_RECORDABLE = (
        "DataDecl", "Rule", "FuncDecl", "OutQueryDecl",
        "QueryIndexDecl", "EnumDecl", "StructDecl", "UnionDecl",
        "ClassDecl", "NamespaceDecl", "UsingDecl", "RelDecl", "SetStmt",
    )

    def _record_public(self, item, ent: dict, prefix: str = "") -> None:
        """Collect `public`-marked member names (namespace-qualified
        tails) into the package's public set."""
        if isinstance(item, P.NamespaceDecl):
            for child in item.items:
                self._record_public(child, ent, f"{prefix}{item.name}::")
            return
        if not getattr(item, "public", False):
            return
        name = getattr(item, "name", None)
        if not name:
            raise HeroQLError(
                f"package {self._cur_pkg}: `public` needs a named "
                f"declaration, not {type(item).__name__}"
            )
        ent["public"].add(f"{prefix}{name}")

    def _exec_item(self, item, out: RunResult) -> None:
        self._cur_src = getattr(item, "src", None)
        if (
            self._cur_pkg is not None
            and not self._replaying
            and type(item).__name__ in self._PKG_RECORDABLE
        ):
            import copy as _copy

            ent = self.packages[self._cur_pkg]
            ent["items"].append(_copy.deepcopy(item))
            self._record_public(item, ent)
        if isinstance(item, P.MaintainStmt):
            self._exec_maintain(item, out)
            return
        if isinstance(item, P.DatabaseDecl):
            return
        if isinstance(item, P.PackageDecl):
            for u in item.uses:
                if u not in self.packages:
                    raise HeroQLError(
                        f"package {item.name}: unknown package {u!r} in using"
                    )
            ent = self.packages.setdefault(
                item.name, {"uses": [], "items": [], "public": set()}
            )
            ent["uses"] = list(item.uses)
            self._cur_pkg = item.name
            self._ns = [item.name]
            for u in item.uses:
                if u not in self._using:
                    self._using.append(u)
            return
        if isinstance(item, P.GlobalLet):
            if item.name in self.globals or item.name in self.instances:
                raise HeroQLError(
                    f"{item.name!r} is READONLY (GLOBAL READONLY VALUE) — "
                    "already bound"
                )
            if isinstance(item.expr, P.NewExpr):
                self._instantiate(item.name, item.expr, out)
            else:
                # fold over the existing globals, so
                # `Two <- 2. Four <- Two * 2.` works (the value step
                # `set` and procedure arguments use)
                try:
                    v = self._value(item.expr)
                except HeroQLError:
                    raise HeroQLError(
                        f"global value {item.name!r} must be a constant "
                        "expression or `new Package`"
                    )
                self.globals[item.name] = v
            return
        if isinstance(item, P.DiscardStmt):
            self._discard_instance(item.name)
            return
        if isinstance(item, P.MergeInstStmt):
            self._merge_instance(item.name)
            return
        if isinstance(item, P.NamespaceDecl):
            self._ns.append(item.name)
            try:
                for child in item.items:
                    self._exec_item(child, out)
            finally:
                self._ns.pop()
            return
        if isinstance(item, P.UsingDecl):
            if item.name not in self._using:
                self._using.append(item.name)
            return
        if isinstance(item, P.StructDecl):
            self.types[self._qualify(item.name)] = {
                "kind": "struct",
                "fields": [(f.name, self._resolve_type(f.type)) for f in item.fields],
            }
            return
        if isinstance(item, P.UnionDecl):
            self.types[self._qualify(item.name)] = {
                "kind": "union",
                "members": [self._resolve_ref(m) for m in item.members],
            }
            return
        if isinstance(item, P.ClassDecl):
            self.types[self._qualify(item.name)] = {
                "kind": "class",
                "base": self._resolve_ref(item.base) if item.base else None,
                "fields": [(f.name, self._resolve_type(f.type)) for f in item.fields],
            }
            return
        if isinstance(item, P.EnumDecl):
            self.enums[self._qualify(item.name)] = item.members
            return
        if isinstance(item, P.DataDecl):
            self._declare_data(item)
            return
        if isinstance(item, P.QueryIndexDecl):
            # standalone index block (Kernel/README.md "Cached Query" +
            # DATA-COLLECTION): Hash/Unique entries register cache key
            # sets (constant-bound atoms resolve through the per-value
            # cache); Unique/Ordered/AutoIncresed also attach to the
            # relation's TableDef so `set` replace-on-key, ensure-set
            # and violation checks see them. May PRECEDE the relation's
            # declaration ("the order is not important") — deferred
            # until the name appears.
            name = self._resolve_ref(item.name)
            if name not in self.defs:
                self._deferred_indexes.setdefault(
                    self._qualify(item.name), []
                ).append(item.indexes)
                return
            self._apply_query_index(name, item.indexes)
            return
        if isinstance(item, P.OutQueryDecl):
            name = self._qualify(item.name)
            kind = self._classify_out_query(item)
            if getattr(item, "transactional", False) and kind != "procedure":
                raise HeroQLError(
                    f"transaction query {item.name}: only mutation-command "
                    f"bodies (@insert/@update/@remove) can be transactional "
                    f"— this body classifies as {kind}"
                )
            self._canon_body(item.body)
            if kind == "procedure":
                self._check_procedure(item)
                self.procs[name] = item
                return
            if kind == "relational":
                self._check_at_query(item)
                fields = [n for n, _t in item.ins] + [n for n, _t in item.outs]
                types = [t for _n, t in item.ins] + [t for _n, t in item.outs]
                self.defs[name] = TableDef(
                    name, fields, types if any(types) else None
                )
                self.atqueries[name] = item
                self._memo.pop(name, None)
                for ixs in self._deferred_indexes.pop(name, []):
                    self._apply_query_index(name, ixs)
                return
            self._check_out_query(item)
            self.outqueries[name] = item
            return
        if isinstance(item, P.CallStmt):
            self._canon_atom(item.atom)
            self._exec_call(item)
            return
        if isinstance(item, P.FuncDecl):
            name = self._qualify(item.name)
            fields = [p[1] for p in item.params]
            self.defs.setdefault(name, TableDef(name, fields, None))
            if item.body:
                head = P.Atom(name, [P.Var(f) for f in fields])
                self._add_rule(P.Rule(head, item.body))
            return
        if isinstance(item, P.Rule):
            self._add_rule(item)
            return
        if isinstance(item, P.QueryDecl):
            if getattr(item, "transactional", False):
                raise HeroQLError(
                    "transaction query: only named mutation-command bodies "
                    "(@insert/@update/@remove procedures) can be transactional"
                )
            self._canon_body(item.body)
            for a in item.args:
                self._canon_expr(a)
            df = self._eval_query(item)
            out.queries.append(df)
            if item.name:
                out.named[item.name] = df
                self.tables[item.name] = df
                self.defs.setdefault(item.name, TableDef(item.name, list(df.columns), None))
            return
        if isinstance(item, P.CollectionQuery):
            self._canon_body(item.body)
            for st in item.stages:
                if isinstance(st, P.WhereStage):
                    self._canon_expr(st.expr)
                elif isinstance(st, (P.PartitionByStage, P.GroupByStage)):
                    for k in st.keys:
                        self._canon_expr(k)
                    for it in st.items:
                        if it.arg is not None:
                            self._canon_expr(it.arg)
                    if isinstance(st, P.GroupByStage) and st.having is not None:
                        self._canon_expr(st.having)
                elif isinstance(st, P.OrderByStage):
                    self._canon_expr(st.expr)
            df = self._eval_collection(item)
            out.queries.append(df)
            if item.name:
                out.named[item.name] = df
                self.tables[item.name] = df
                self.defs.setdefault(item.name, TableDef(item.name, list(df.columns), None))
            return
        if isinstance(item, P.SetStmt):
            self._canon_atom(item.atom)
            self._exec_set(item.atom)
            return
        if isinstance(item, P.MigrateStmt):
            self._exec_migrate(item)
            return
        if isinstance(item, P.UpdateStmt):
            item.name = self._resolve_ref(item.name)
            self._canon_body(item.body)
            self._exec_update(item)
            return
        if isinstance(item, P.RemoveStmt):
            item.name = self._resolve_ref(item.name)
            self._canon_body(item.body)
            self._exec_remove(item)
            return
        if isinstance(item, P.UncacheStmt):
            item.name = self._resolve_ref(item.name)
            self._exec_uncache(item)
            return
        if isinstance(item, P.ForQueryStmt):
            self._canon_body(item.body)
            self._canon_actions(item.actions)
            self._exec_for_query(item)
            return
        raise HeroQLError(f"unsupported program item {type(item).__name__}")

    def _canon_actions(self, actions: list) -> None:
        for a in actions:
            if isinstance(a, P.SetStmt):
                self._canon_atom(a.atom)
            elif isinstance(a, P.RemoveStmt):
                a.name = self._resolve_ref(a.name)
            elif isinstance(a, P.EnsureSetAction):
                self._canon_atom(a.atom)
            elif isinstance(a, P.LetCtorAction):
                a.ctor = self._resolve_ref(a.ctor)
                for _, expr in a.fields:
                    self._canon_expr(expr)
            elif isinstance(a, P.IfNotSetAction):
                self._canon_atom(a.atom)
                self._canon_actions(a.then)
            elif isinstance(a, P.ForMemberAction):
                self._canon_actions(a.actions)

    def _declare_data(self, d: P.DataDecl) -> None:
        d.name = self._resolve_ref(d.name) if d.name in self.defs else self._qualify(d.name)
        fields = [f.name for f in d.fields]
        types = [self._resolve_type(f.type) for f in d.fields]
        for rel in d.relations:
            rel.target = self._resolve_ref(rel.target)
        key = None
        for ix in d.indexes:
            if "Unique" in ix.kinds and len(ix.cols) == 1 and "." not in ix.cols[0]:
                key = ix.cols[0]
        if key is None:
            key = self._guess_key(fields)
        self.defs[d.name] = TableDef(d.name, fields, types, d.is_class, key, d.where, d.indexes)
        # a standalone `index N {...}` may have preceded this
        # declaration (README: "the order is not important")
        for ixs in self._deferred_indexes.pop(d.name, []):
            self._apply_query_index(d.name, ixs)
        for rel in d.relations:
            edge = f"{d.name}__{rel.name}"
            # `spouse * spouse : Person, 1..1` (draft:36): a member that
            # is its own inverse is SYMMETRIC — a.spouse == b ⇒
            # b.spouse == a — stored once, read in both directions
            symmetric = rel.name == rel.inverse and rel.target == d.name
            self.relations[(d.name, rel.name)] = RelEntry(edge, False, rel.card, symmetric)
            if not symmetric:
                self.relations[(rel.target, rel.inverse)] = RelEntry(
                    edge, True, _invert_card(rel.card), False
                )
            if edge not in self.defs:
                self.defs[edge] = TableDef(edge, ["src", "dst"], [d.name, rel.target])

    def _add_rule(self, rule: P.Rule) -> None:
        rule.head.name = self._resolve_ref(rule.head.name)
        for a in rule.head.args:
            self._canon_expr(a)
        self._canon_body(rule.body)
        name = rule.head.name
        if not rule.body:
            for a in rule.head.args:
                if not isinstance(a, P.Const) and self._const_value(a) is None:
                    raise HeroQLError(
                        f"non-ground fact for {name!r}: bottom-up evaluation needs "
                        "range-restricted cases (draft:87's accumulator form is "
                        "top-down; use the closure()/fixpoint() operators)"
                    )
        self.rules.setdefault(name, []).append(rule)
        self.defs.setdefault(
            name, TableDef(name, [f"arg{i}" for i in range(len(rule.head.args))], None)
        )
        self._memo.clear()
        self._memo_pos.clear()
        self._delta_log.clear()
        self._qcache.clear()

    # ------------------------------------------------------------ tables

    def table(self, name: str) -> DataFrame:
        """Resolve a table: base rows (with pending inserts flushed),
        plus rule derivations if the name is rule-defined. Derivations
        memoize; insert deltas since the memo was built are folded in
        INCREMENTALLY when the rule shape allows (see
        _maintain_incrementally), else the memo rebuilds."""
        if self._txn is not None and name in self._snapshots:
            # a transactional program READ this durable table: declare
            # it in the transaction's read set so an interleaved
            # commit to it cancels the program instead of rebasing
            # over it (write-skew guard — sources/database.py
            # Transaction docstring)
            self._txn.declare_read(name)
        self._flush(name)
        if name in self.rules:
            if name in self._memo:
                # flush every pending insert first so the delta log is
                # complete before deciding how to maintain
                for t in list(self._pending):
                    self._flush(t)
                pos = self._memo_pos.get(name, len(self._delta_log))
                if pos < len(self._delta_log):
                    if self._maintain_incrementally(name, self._delta_log[pos:]):
                        self._memo_pos[name] = len(self._delta_log)
                    else:
                        self._memo.pop(name, None)
            if name not in self._memo:
                self._eval_idb(name)
                self._memo_pos[name] = len(self._delta_log)
            self._prune_delta_log()
            return self._memo[name]
        if name in self.atqueries:
            # relational @-command query: a derived relation, memoized
            # like rule derivations — but ranks/aggregates make it
            # NON-monotone, so buffered `set` batches must land first
            # (the flush drops stale at-query memos; serving a memo
            # past an unflushed insert returned pre-insert rows)
            for t in list(self._pending):
                if self._pending.get(t):
                    self._flush(t)
            if name not in self._memo:
                self._memo[name] = self._eval_at_query(self.atqueries[name])
            return self._memo[name]
        if name in self.tables:
            return self.tables[name]
        if name in self.defs:  # declared, never populated
            d = self.defs[name]
            schema = self._schema_for(d)
            self.tables[name] = self.spark.createDataFrame([], schema)
            return self.tables[name]
        raise HeroQLError(f"unknown table {name!r}")

    def _schema_for(self, d: TableDef, _seen: frozenset = frozenset()) -> T.StructType:
        out = []
        for i, f in enumerate(d.fields):
            tname = d.types[i] if d.types else "string"
            if tname in _TYPE_MAP:
                st = _TYPE_MAP[tname]
            elif tname in self.enums:
                st = T.StringType()
            elif tname in self.defs and tname not in _seen:  # class ref → its key type
                kd = self.defs[tname]
                if tname in self.tables:
                    st = self.tables[tname].schema[kd.key].dataType
                else:
                    st = self._schema_for(kd, _seen | {d.name})[kd.key].dataType
            elif tname in _seen:  # self-referential class: keys default to long
                st = T.LongType()
            else:
                st = T.StringType()
            out.append(T.StructField(f, st, True))
        return T.StructType(out)

    def _flush(self, name: str) -> None:
        rows = self._pending.pop(name, None)
        srcs = self._pending_src.pop(name, None)
        if not rows:
            return
        d = self.defs.get(name)
        schema = self._schema_for(d) if d and d.types else None
        if schema is not None:
            batch = literal_df(self.spark, rows, schema)
        elif name in self.tables:
            batch = literal_df(self.spark, rows, self.tables[name].schema)
        else:
            raise HeroQLError(f"cannot infer schema for inserts into undeclared {name!r}")
        self._check_where(d, batch, "set")
        snap = self._snapshots.get(name)
        keys = self._key_cols(name)
        if snap is None and not keys:
            if name in self.tables:
                self.tables[name] = self.tables[name].unionByName(batch)
            else:
                self.tables[name] = batch
            # inserts without a declared unique key are MONOTONE facts:
            # RULE memos stay valid modulo the delta log. The per-VALUE
            # query cache has no incremental form (a pinned subset can't
            # absorb deltas) — wipe it; the next covered submit
            # recomputes. @-relational query memos are NON-monotone
            # (ranks/aggregates shift under pure inserts) — drop them.
            self._delta_log.append((name, batch))
            self._qcache.clear()
            for aq in self.atqueries:
                self._memo.pop(aq, None)
            self._bump_checkpoint(name)
            return
        # `set` restating an existing key replaces the row (draft:46/134),
        # on the durable merge and in memory alike; within one batch the
        # LAST statement wins, mirroring statement order
        kpos = [d.fields.index(k) for k in keys]
        last: dict = {}
        for row in rows:
            last[tuple(row[i] for i in kpos)] = row
        batch = literal_df(self.spark, list(last.values()), batch.schema)
        if snap is not None:
            # one commit may batch several `set` statements: log them
            # all, in statement order
            self._commit_mutation(
                name, "merge_upsert", batch, program="\n".join(srcs) if srcs else None
            )
        elif name in self.tables:
            keep = self.tables[name].join(batch.select(*keys), keys, "left_anti")
            self.tables[name] = keep.unionByName(batch)
        else:
            self.tables[name] = batch
        # a replaced key makes this non-monotone: wipe memos
        self._after_mutation(name)

    def _row_ctx(self, d: TableDef, names: list | None = None, env: dict | None = None) -> _ExprCtx:
        """The one row context of mutations, migrations and `where`
        constraints: name `names[i]` (default: the field's own name;
        None binds nothing) reads column i of d's rows, next to the
        procedure parameters `env` (name -> value). A class-typed column
        dereferences through _deref_scalar, so every expression compiled
        here stays a Column over the table's own rows."""
        ctx = _ExprCtx(self, None, {k: F.lit(v) for k, v in (env or {}).items()})
        for i, (f, n) in enumerate(zip(d.fields, names or d.fields)):
            if n is None:
                continue
            ctx.extra[n] = F.col(f)
            t = d.types[i] if d.types else None
            if t in self.defs:
                ctx.classes[n] = t
        return ctx

    def _row_predicate(self, d: TableDef):
        return self._expr(d.where, self._row_ctx(d))

    def _check_where(self, d: TableDef | None, rows: DataFrame, what: str) -> None:
        """The declared `where` constraint (draft:48-52) guards every
        insert and rewrite path: refuse `rows` if any row breaks it."""
        if d is not None and d.where is not None \
                and not rows.where(~self._row_predicate(d)).isEmpty():
            raise HeroQLError(f"{what} violates `where` constraint of {d.name!r}")

    def _append_rows(self, name: str, rows: DataFrame, cur: DataFrame | None = None,
                     anti_on: list | None = None, distinct: bool = False,
                     rel: RelEntry | None = None) -> None:
        """Install `cur ∪ rows` as table `name`, `rows` cast to `cur`'s
        schema (`cur` defaults to the flushed current table). `anti_on`
        drops rows whose key columns `cur` already holds, `distinct`
        dedups the union, and `rel` validates the relation's
        cardinality before anything is installed."""
        if cur is None:
            self._flush(name)
            cur = self.table(name)
        if not cur.columns:
            out = rows
        else:
            rows = rows.select([rows[c].cast(cur.schema[c].dataType) for c in cur.columns])
            if anti_on is not None:
                rows = rows.join(cur.select(anti_on), anti_on, "left_anti")
            out = cur.unionByName(rows)
            if distinct:
                out = out.distinct()
        if rel is not None:
            self._validate_card(rel, out)
        self._install_table(name, out)
        self._after_mutation(name)

    def _after_mutation(self, name: str) -> None:
        """Non-monotone mutation (update/remove/edge rewrite): every
        memoized derivation could shrink — wipe memos and the log."""
        self._memo.clear()
        self._memo_pos.clear()
        self._delta_log.clear()
        self._qcache.clear()
        self._bump_checkpoint(name)

    def _bump_checkpoint(self, name: str) -> None:
        self._mutations += 1
        if self._mutations % self._CHECKPOINT_EVERY == 0 and name in self.tables:
            self.tables[name] = self.tables[name].localCheckpoint(eager=False)

    # ------------------------------------------------------------ IDB evaluation

    def _idb_deps(self, name: str) -> set[str]:
        deps = set()
        for rule in self.rules.get(name, ()):
            for lit in rule.body:
                a = None
                if isinstance(lit, P.Atom):
                    a = lit
                elif isinstance(lit, (P.NotLit, P.ExistsLit)):
                    a = lit.atom
                if a is not None and a.member_of is None and a.name in self.rules:
                    deps.add(a.name)
        return deps

    def _scc_of(self, name: str) -> set[str]:
        """Tables mutually recursive with `name` (inclusive)."""
        fwd: dict[str, set[str]] = {}
        stack = [name]
        while stack:
            n = stack.pop()
            if n in fwd:
                continue
            fwd[n] = self._idb_deps(n)
            stack.extend(fwd[n])

        def reach(start: str, graph) -> set[str]:
            seen, st = set(), [start]
            while st:
                n = st.pop()
                for m in graph.get(n, ()):
                    if m not in seen:
                        seen.add(m)
                        st.append(m)
            return seen

        back: dict[str, set[str]] = {}
        for n, ds in fwd.items():
            for m in ds:
                back.setdefault(m, set()).add(n)
        return (reach(name, fwd) & reach(name, back)) | {name}

    def _scc_atoms(self, rule: P.Rule, scc: set) -> tuple[list, list]:
        """(positive, negated/exists) body atoms referencing the SCC."""
        pos, neg = [], []
        for lit in rule.body:
            if isinstance(lit, P.Atom) and lit.member_of is None and lit.name in scc:
                pos.append(lit)
            elif isinstance(lit, (P.NotLit, P.ExistsLit)) and lit.atom.member_of is None \
                    and lit.atom.name in scc:
                neg.append(lit)
        return pos, neg

    def _eval_seminaive_scc(self, scc_names: list[str]) -> dict:
        """One recursive SCC through the `seminaive` kernel: each
        table's seed is its non-recursive rules, and each round every
        recursive rule derives once per positive recursive atom, with
        THAT atom reading the previous round's delta and every other
        atom the accumulated state. Whole rows are the key (set
        semantics)."""
        scc = set(scc_names)
        seeds: dict[str, DataFrame | None] = {}
        rec: dict[str, list] = {}
        for n in scc_names:
            rules = self.rules.get(n, ())
            rec[n] = [r for r in rules if self._scc_atoms(r, scc)[0]]
            base = [r for r in rules if not self._scc_atoms(r, scc)[0]]
            seed = self._derive_rules(n, base, {})
            seeds[n] = None if seed is None else seed.distinct()
        keys = {n: self._def(n).fields for n in scc_names}

        def derive(state: dict, delta: dict) -> dict:
            out: dict[str, DataFrame | None] = {}
            for n in scc_names:
                parts: list[DataFrame] = []
                for rule in rec[n]:
                    for atom in self._scc_atoms(rule, scc)[0]:
                        if delta.get(atom.name) is None:
                            continue  # that table gained nothing last round
                        try:
                            frame = self._compile_body(
                                rule.body, state, overrides={id(atom): delta[atom.name]}
                            )
                        except _SkipRule:
                            continue
                        parts.append(self._project_head(rule.head, frame, keys[n]))
                out[n] = reduce(DataFrame.unionByName, parts) if parts else None
            return out

        return seminaive(seeds, derive, keys, self.max_iters)

    def _eval_idb(self, name: str) -> None:
        scc = self._scc_of(name)
        recursive = any(self._idb_deps(n) & scc for n in scc)
        if not recursive:
            self._memo[name] = self._finalize(name, self._derive(name, {}))
            self._memo_pos[name] = len(self._delta_log)
            return
        # stratification check: `not`/`exists` over a table in the SAME
        # recursive component has no well-defined bottom-up semantics
        # (the inflationary rounds would pick an arbitrary fixpoint
        # depending on derivation order) — reject like Datalog does
        for n in scc:
            for rule in self.rules.get(n, ()):
                _, neg = self._scc_atoms(rule, scc)
                if neg:
                    raise HeroQLError(
                        f"unstratified negation: rule for {n!r} negates a table in "
                        f"its own recursive component {sorted(scc)} — move the "
                        "negated table to a lower stratum"
                    )
        state = self._eval_seminaive_scc(sorted(scc))
        for n in scc:
            df = state[n]
            if df is None:
                raise HeroQLError(f"recursive table {n!r} has no derivable base case")
            self._memo[n] = self._finalize(n, df)
            self._memo_pos[n] = len(self._delta_log)

    def _prune_delta_log(self) -> None:
        """Drop delta batches every memo has absorbed (rebasing the
        recorded positions) so a long insert-only session doesn't
        retain every batch's lineage forever."""
        if not self._delta_log:
            return
        floor = min(self._memo_pos.values()) if self._memo_pos else len(self._delta_log)
        if floor <= 0:
            return
        del self._delta_log[:floor]
        for k in self._memo_pos:
            self._memo_pos[k] -= floor

    def _maintain_incrementally(self, name: str, entries: list[tuple]) -> bool:
        """Fold insert deltas into a memoized derivation using the
        delta rule Δ(A₁⋈…⋈Aₖ) ⊆ ⋃ᵢ (A₁⋈…⋈ΔAᵢ⋈…⋈Aₖ) — evaluated with
        the already-updated full tables in the non-delta slots, then
        exactified by exceptAll against the memo. Work scales with the
        delta, not the base tables (the reference's Cache'd computed
        tables, draft:67-72, done the matview.py way at language
        level). Applies to non-recursive rules over base tables with
        no negation/exists/member atom over a delta'd table; anything
        else reports False and the memo rebuilds."""
        rules = self.rules.get(name, ())
        touched: dict[str, list[DataFrame]] = {}
        for base, df in entries:
            touched.setdefault(base, []).append(df)
        if name in touched:
            return False
        relevant = []  # (rule, [delta'd atom objects])
        for rule in rules:
            if not rule.body:
                continue
            datoms = []
            for lit in rule.body:
                if isinstance(lit, P.Atom):
                    if lit.member_of is not None:
                        if touched:  # edge-table identity is dynamic; stay safe
                            return False
                        continue
                    if lit.name in self.rules:
                        return False  # derived dependency: rebuild
                    if lit.name in touched:
                        datoms.append(lit)
                elif isinstance(lit, (P.NotLit, P.ExistsLit)):
                    if lit.atom.member_of is not None:
                        if touched:
                            return False
                        continue
                    # direct delta: not insert-monotone (or semi-join
                    # delta); derived table: its content may have
                    # changed through ITS bases — either way rebuild
                    if lit.atom.name in touched or lit.atom.name in self.rules:
                        return False
            if datoms:
                relevant.append((rule, datoms))
        if not relevant:  # deltas don't feed this table at all
            self._incremental_hits += 1
            return True
        deltas = {}
        for base, dfs in touched.items():
            acc = dfs[0]
            for extra in dfs[1:]:
                acc = acc.unionByName(extra)
            deltas[base] = acc
        d = self._def(name)
        parts: list[DataFrame] = []
        for rule, datoms in relevant:
            for atom in datoms:
                frame = self._compile_body(
                    rule.body, None, overrides={id(atom): deltas[atom.name]}
                )
                parts.append(self._project_head(rule.head, frame, d.fields))
        fresh = parts[0]
        for p in parts[1:]:
            fresh = fresh.unionByName(p)
        fresh = fresh.distinct()
        if d.where is not None:
            fresh = fresh.where(self._row_predicate(d))
        fresh = fresh.exceptAll(self._memo[name].select(d.fields))
        self._memo[name] = (
            self._memo[name].unionByName(fresh).localCheckpoint(eager=False)
        )
        self._incremental_hits += 1
        return True

    def _finalize(self, name: str, df: DataFrame) -> DataFrame:
        d = self._def(name)
        if d.where is not None:
            df = df.where(self._row_predicate(d))
        # declared Hash index → co-partition hint for downstream joins
        for ix in d.indexes:
            if "Hash" in ix.kinds and ix.cols and all("." not in c for c in ix.cols):
                df = df.repartition(*[F.col(c) for c in ix.cols])
                break
        return df

    def _derive(self, name: str, state: dict) -> DataFrame | None:
        return self._derive_rules(name, self.rules.get(name, ()), state)

    def _derive_rules(self, name: str, rules, state: dict) -> DataFrame | None:
        """Union of the given rule derivations for `name` (facts +
        bodies + any base rows), with recursive atoms reading `state`.
        None → nothing derivable yet (all rules blocked on empty
        state)."""
        d = self._def(name)
        parts: list[DataFrame] = []
        facts: list[tuple] = []
        for rule in rules:
            if not rule.body:
                facts.append(tuple(self._const_value(a) for a in rule.head.args))
                continue
            try:
                frame = self._compile_body(rule.body, state)
                parts.append(self._project_head(rule.head, frame, d.fields))
            except _SkipRule:
                continue
        if facts:
            schema = self._schema_for(d) if d.types else None
            if schema is not None:
                parts.insert(0, literal_df(self.spark, facts, schema))
            elif parts:
                parts.insert(0, literal_df(self.spark, facts, parts[0].schema))
            else:
                parts.insert(0, literal_df(self.spark, facts, d.fields))
        if name in self.tables or self._pending.get(name):
            self._flush(name)
            if name in self.tables:
                parts.insert(0, self.tables[name])
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def _const_value(self, a):
        if isinstance(a, P.Const):
            return a.value
        if isinstance(a, P.UnaryOp) and a.op == "-" and isinstance(a.operand, P.Const):
            return -a.operand.value
        if isinstance(a, P.FieldAccess) and isinstance(a.base, P.Var) and a.base.name in self.enums:
            if a.name not in self.enums[a.base.name]:
                raise HeroQLError(f"{a.base.name} has no member {a.name!r}")
            return a.name
        if isinstance(a, P.Var):
            m = self._enum_member(a.name)
            if m is not None:
                return m
            return self.globals.get(a.name)  # GLOBAL READONLY VALUE
        return None

    def _value(self, a, env: dict | None = None):
        """The one value step of `set`, `@insert`, call arguments and
        global values. A plain constant (a literal, an enum member, a
        global or a procedure parameter in `env`) folds on the driver;
        any other expression compiles through _expr and is read off a
        one-row literal projection. That costs no Spark job but about
        0.1 s, so constants never take it."""
        env = env or {}
        if isinstance(a, P.Var) and a.name in env:
            return env[a.name]
        v = self._const_value(a)
        if v is not None or isinstance(a, P.Const):
            return v
        ctx = _ExprCtx(self, None, {k: F.lit(x) for k, x in env.items()})
        one = literal_df(self.spark, [(0,)], "_ int")
        return one.select(self._expr(a, ctx)).first()[0]

    # ------------------------------------------------------------ body compilation

    # ------------------------------------------------ zone-map pushdown

    @staticmethod
    def _body_var_bounds(body: list) -> dict:
        """var -> (lo, hi) inclusive bounds PROVABLE from the body's
        top-level comparison conjuncts of shape `v op const` /
        `const op v` (op ∈ <, <=, >, >=, ==; const int/float/str).
        Strict bounds widen to inclusive (pruning may only keep MORE
        partitions than needed, never fewer); multiple conjuncts on
        one var intersect."""
        bounds: dict = {}

        def add(v, lo, hi):
            l0, h0 = bounds.get(v, (None, None))
            try:
                if lo is not None:
                    l0 = lo if l0 is None else max(l0, lo)
                if hi is not None:
                    h0 = hi if h0 is None else min(h0, hi)
            except TypeError:
                # mixed-type conjuncts on one var (`k > 5, k > "a"`)
                # prove nothing portable — drop the var's bounds and
                # let the compiled filters decide
                bounds[v] = (None, None)
                return
            bounds[v] = (l0, h0)

        flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}
        for lit in body:
            if not isinstance(lit, P.CompareLit) or not isinstance(lit.expr, P.BinOp):
                continue
            e = lit.expr
            op, left, right = e.op, e.left, e.right
            if isinstance(left, P.Const) and isinstance(right, P.Var):
                left, right, op = right, left, flip.get(op, op)
            if not (isinstance(left, P.Var) and isinstance(right, P.Const)):
                continue
            c = right.value
            if not isinstance(c, (int, float, str)) or isinstance(c, bool):
                continue
            v = left.name
            if op == "==":
                add(v, c, c)
            elif op in ("<", "<="):
                add(v, None, c)
            elif op in (">", ">="):
                add(v, c, None)
        return bounds

    def _zone_map_overrides(self, body: list, state: dict | None,
                            existing: dict | None) -> dict:
        """ZONE-MAP PUSHDOWN from the language to the durable layer:
        for every plain snapshot-backed atom whose positional pattern
        binds a variable (or literal) at a column the body also bounds
        with comparison conjuncts, re-resolve the atom's source
        through SnapshotTable.read(ranges=...) — partitions whose
        recorded [min, max] cannot intersect the bounds are never
        scanned. Sound for inner/semi/anti atoms alike: body literals
        are conjuncts, so any pruned row could only ever meet rows the
        same bounds eliminate (and NULL keys satisfy no range, match
        no equi-join). Injected through the same per-atom-instance
        `overrides` slot incremental maintenance uses; atoms the
        caller already overrides (delta slots) are left alone."""
        bounds = self._body_var_bounds(body)
        # no early exit on empty bounds: constant pattern arguments
        # (`T(305, g, v)`) carry their own equality bound
        out: dict = {}
        for lit in body:
            atom = (
                lit
                if isinstance(lit, P.Atom)
                else lit.atom if isinstance(lit, (P.NotLit, P.ExistsLit)) else None
            )
            if atom is None or atom.member_of is not None or atom.at_version is not None:
                continue
            if existing is not None and id(atom) in existing:
                continue
            name = atom.name
            if name not in self._snapshots or name in self.rules:
                continue
            if state is not None and name in state:
                continue
            d = self.defs.get(name)
            # positional pattern form only (a row-variable atom binds
            # the whole row in one arg — no per-column positions)
            if d is None or len(atom.args) != len(d.fields):
                continue
            ranges: dict = {}
            for posn, arg in enumerate(atom.args):
                if isinstance(arg, P.Var) and arg.name in bounds:
                    lo, hi = bounds[arg.name]
                    if lo is not None or hi is not None:
                        ranges[d.fields[posn]] = (lo, hi)
                elif isinstance(arg, P.Const) and isinstance(arg.value, (int, float, str)) \
                        and not isinstance(arg.value, bool):
                    ranges[d.fields[posn]] = (arg.value, arg.value)
            if not ranges:
                continue
            self._flush(name)  # pending durable sets must commit first
            # read at the SAME version the cached (unpruned) frame was
            # resolved at — never the table's live current, which a
            # sibling writer may have advanced (or which may be a
            # sibling transaction's unpublished member version ahead
            # of the database pin)
            pruned = self._snapshots[name].read(
                version=self._snapshot_versions.get(name), ranges=ranges
            )
            if list(pruned.columns) != list(d.fields):
                continue  # schema drift safety: fall back to the full frame
            out[id(atom)] = pruned
        return out

    def _compile_body(self, body: list, state: dict | None = None,
                      overrides: dict | None = None) -> Frame:
        zm = self._zone_map_overrides(body, state, overrides)
        if zm:
            overrides = {**(overrides or {}), **zm}
        frame = Frame(self)
        for lit in body:
            self._compile_literal(lit, frame, state, overrides)
        if frame.df is None:
            raise HeroQLError("rule body binds no atoms")
        return frame

    def _compile_literal(self, lit, frame: Frame, state: dict | None = None,
                         overrides: dict | None = None) -> None:
        """Apply one body literal (atom, not/exists, `=`, call,
        comparison, ensure) to `frame` — the step rule bodies and
        relational @-queries share."""
        if isinstance(lit, P.Atom):
            self._join_atom(lit, frame, "inner", state, overrides)
        elif isinstance(lit, P.NotLit):
            self._join_atom(lit.atom, frame, "left_anti", state, overrides)
        elif isinstance(lit, P.ExistsLit):
            self._join_atom(lit.atom, frame, "left_semi", state, overrides)
        elif isinstance(lit, P.AssignLit):
            self._force_derefs(lit.expr, frame)
            ctx = _ExprCtx(self, frame)
            val = self._expr(lit.expr, ctx)
            if frame.has(lit.var):
                frame.df = frame.df.where(frame.col(lit.var) == val)
            else:
                if frame.df is None:
                    raise HeroQLError("`=` binding before any atom")
                frame.df = frame.df.withColumn(lit.var, val)
                frame.vars[lit.var] = None
        elif isinstance(lit, P.CallLit):
            self._inline_call(lit, frame)
        elif isinstance(lit, P.CompareLit):
            if frame.df is None:
                raise HeroQLError("comparison before any atom")
            self._force_derefs(lit.expr, frame)
            frame.df = frame.df.where(self._expr(lit.expr, _ExprCtx(self, frame)))
        elif isinstance(lit, P.EnsureLit):
            if frame.df is None:
                raise HeroQLError("`ensure` before any atom")
            self._force_derefs(lit.expr, frame)
            cond = self._expr(lit.expr, _ExprCtx(self, frame))
            if not frame.df.where(~cond).isEmpty():
                raise HeroQLError("ensure violated (draft:111)")
        else:
            raise HeroQLError(f"unsupported literal {type(lit).__name__}")

    def _atom_source(self, atom: P.Atom, frame: Frame, state: dict | None,
                     overrides: dict | None = None):
        """→ (df, field_names, field_types, row_class_name|None, patterns).
        `overrides` maps a specific atom instance (by id) to a
        replacement DataFrame — the delta slot of incremental
        maintenance."""
        if overrides is not None and id(atom) in overrides and atom.member_of is None:
            tdef = self._def(atom.name)
            ftypes = list(tdef.types) if tdef.types else [None] * len(tdef.fields)
            ftypes = [t if t in self.defs else None for t in ftypes]
            rowcls = atom.name if tdef.is_class else None
            return overrides[id(atom)], list(tdef.fields), ftypes, rowcls, list(atom.args)
        if atom.member_of is not None:
            base = atom.member_of.name
            if not frame.has(base):
                raise _Unbound(base)
            cls = frame.vars.get(base)
            if cls is None:
                raise HeroQLError(f"{base!r} is not a class row; member atoms need one")
            rel = self.relations.get((cls, atom.name))
            if rel is None:
                raise HeroQLError(f"{cls} has no relation member {atom.name!r}")
            df = self.table(rel.edge)
            if rel.symmetric:
                # self-inverse member (spouse): stored once (canonical
                # least/greatest), read both ways; distinct guards the
                # self-loop double
                df = df.unionByName(
                    df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                ).distinct()
            elif rel.swapped:
                df = df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            tdef = self._def(rel.edge)
            ftypes = list(tdef.types or [None, None])
            if rel.swapped:
                ftypes = ftypes[::-1]
            if len(atom.args) != 1:
                raise HeroQLError(f"member atom {atom.name!r} takes exactly one argument")
            return df, ["src", "dst"], ftypes, None, [atom.member_of] + list(atom.args)

        name = atom.name
        if atom.at_version is not None:
            # time travel: `T@k(...)` resolves through the snapshot
            # manifest (SnapshotTable.read(version)); columns are the
            # SCHEMA IN EFFECT AT k, so a pre-evolution version binds
            # exactly its old arity — patterns written against the old
            # shape keep working across add_columns boundaries
            snap = self._snapshots.get(name)
            if snap is None:
                raise HeroQLError(
                    f"{name!r}@{atom.at_version}: time travel needs a snapshot-backed "
                    "table (register_snapshot / register_database)"
                )
            df = snap.read(version=atom.at_version)
            fields = list(df.columns)
            tdef = self.defs.get(name)
            same = tdef is not None and tdef.fields == fields
            ftypes = list(tdef.types) if same and tdef.types else [None] * len(fields)
            ftypes = [t if t in self.defs else None for t in ftypes]
            rowcls = name if same and tdef.is_class else None
            return df, fields, ftypes, rowcls, list(atom.args)
        if (
            (name == "changes" or name.endswith("::changes"))
            and name not in self.defs
            and name not in self.tables
            and len(atom.args) >= 3
            and isinstance(atom.args[0], P.Var)
        ):
            # change data feed: `changes(T, from, to, key..., col...,
            # chg)` binds the CDC relation of snapshot table T between
            # versions `from` and `to` — key columns, data columns (at
            # to-version schema), then `_change` ∈ {insert, delete,
            # update_pre, update_post} (sources/snapshot.read_changes)
            tname = self._resolve_ref(atom.args[0].name)
            snap = self._snapshots.get(tname)
            if snap is None:
                raise HeroQLError(
                    f"changes({atom.args[0].name}, ...): needs a snapshot-backed table"
                )
            v_from = self._const_value(atom.args[1])
            v_to = self._const_value(atom.args[2])
            if not isinstance(v_from, int) or not isinstance(v_to, int):
                raise HeroQLError("changes(T, from, to, ...): versions must be int literals")
            df = snap.read_changes(int(v_from), int(v_to))
            fields = list(df.columns)
            return df, fields, [None] * len(fields), None, list(atom.args[3:])
        if (
            (name == "history" or name.endswith("::history"))
            and name not in self.defs
            and name not in self.tables
            and len(atom.args) >= 1
            and isinstance(atom.args[0], P.Var)
        ):
            # audit log: `history(T, version, op, program)` binds the
            # snapshot table's version log as a relation — including
            # the PERSISTED MUTATION PROGRAM text (Rewrite.md:6 "save
            # query to log"), so the audit surface never needs Python
            # either. `program` is NULL for commits without one
            # (create/compact/raw-DataFrame API).
            tname = self._resolve_ref(atom.args[0].name)
            snap = self._snapshots.get(tname)
            if snap is None:
                raise HeroQLError(
                    f"history({atom.args[0].name}, ...): needs a snapshot-backed table"
                )
            from herodb_spark.session import literal_df

            rows = [
                (int(h["version"]), str(h["op"]), h.get("program"))
                for h in snap.history()
            ]
            df = literal_df(
                self.spark, rows, "version long, op string, program string"
            )
            fields = ["version", "op", "program"]
            return df, fields, [None] * len(fields), None, list(atom.args[1:])
        if state is not None and name in state:
            df = state[name]
            if df is None:
                raise _SkipRule()
        else:
            # cached-query fast path FIRST: a covered constant-bound
            # atom must resolve through the per-value cache (and hit
            # its calculating-status recursion stop) BEFORE paying the
            # full-relation evaluation
            df = (
                self._cached_subset(name, atom)
                if name in self.query_indexes
                else None
            )
            if df is None:
                df = self.table(name)
        tdef = self._def(name)
        ftypes = list(tdef.types) if tdef.types else [None] * len(tdef.fields)
        # field types that name another declared table (class rows,
        # union term tables) stay deref-able; scalars drop to None
        ftypes = [t if t in self.defs else None for t in ftypes]
        rowcls = name if tdef.is_class else None
        return df, list(tdef.fields), ftypes, rowcls, list(atom.args)

    # ---------------------------------------------- output-argument queries

    def _check_out_query(self, q: "P.OutQueryDecl") -> None:
        """Forward-direction validation (Kernel/README.md "Output only
        argument": `<-` defines the execution direction, it cannot run
        backward; only out arguments / locals stand left of `<-`).
        Checked at DECLARATION time so a backward program errors
        before any invocation. Globals count as bound."""
        ins = {n for n, _t in q.ins}
        outs = {n for n, _t in q.outs}
        if ins & outs:
            raise HeroQLError(f"query {q.name}: {sorted(ins & outs)} both in and out")
        bound = set(ins)

        def free(e) -> list:
            return sorted(self._var_names(e) - bound - self.globals.keys())

        for lit in q.body:
            if isinstance(lit, P.AssignLit):
                if not lit.arrow:
                    raise HeroQLError(
                        f"query {q.name}: output-argument bodies bind with `<-`, not `=`"
                    )
                if lit.var in ins:
                    raise HeroQLError(
                        f"query {q.name}: cannot run backward — {lit.var!r} is an "
                        "input argument (only out arguments / locals stand left of `<-`)"
                    )
                if lit.var in bound:
                    raise HeroQLError(f"query {q.name}: {lit.var!r} bound twice")
                if free(lit.expr):
                    raise HeroQLError(
                        f"query {q.name}: `<-` runs forward only — {free(lit.expr)} "
                        f"unbound when computing {lit.var!r}"
                    )
                bound.add(lit.var)
            elif isinstance(lit, P.CompareLit):
                if free(lit.expr):
                    raise HeroQLError(
                        f"query {q.name}: guard references unbound {free(lit.expr)}"
                    )
            elif isinstance(lit, P.CallLit):
                callee = self.outqueries.get(self._resolve_ref(lit.name))
                if callee is None:
                    raise HeroQLError(
                        f"query {q.name}: {lit.name!r} is not a declared "
                        "output-argument query"
                    )
                # arity of the DESTRUCTURING must match the callee's
                # declared outs — _eval_out_query zips them, so an
                # unchecked `s <- Solve(a,b,c)` against a two-output
                # Solve would silently bind only the first output
                if len(lit.outs) != len(callee.outs):
                    raise HeroQLError(
                        f"query {q.name}: call binds {len(lit.outs)} output "
                        f"variable(s) but {lit.name} declares {len(callee.outs)}"
                    )
                for a in lit.args:
                    if free(a):
                        raise HeroQLError(
                            f"query {q.name}: call argument references unbound "
                            f"{free(a)}"
                        )
                for v in lit.outs:
                    if v in ins:
                        raise HeroQLError(
                            f"query {q.name}: cannot run backward — {v!r} is an input"
                        )
                    if v in bound:
                        raise HeroQLError(f"query {q.name}: {v!r} bound twice")
                    bound.add(v)
            else:
                raise HeroQLError(
                    f"query {q.name}: output-argument bodies are scalar "
                    "computations (`<-` bindings, guards, calls) — relational "
                    "atoms belong in rules"
                )
        missing = outs - bound
        if missing:
            raise HeroQLError(
                f"query {q.name}: out argument(s) {sorted(missing)} never bound"
            )

    def _eval_out_query(self, name: str, arg_cols: list, frame: Frame,
                        _stack: tuple = ()) -> dict:
        """Evaluate a declared output-argument query over the caller's
        frame: ins bind to the given Columns, `<-` bindings extend a
        scalar environment (pure Catalyst expressions — no UDF, no
        extra plan node), guards FILTER the caller's rows (a failing
        guard means "no output row" — Solve with delta <= 0 simply
        yields nothing, the relational reading of the README's
        filter-vs-stop distinction). Returns {out name -> Column}."""
        decl = self.outqueries.get(name)
        if decl is None:
            raise HeroQLError(f"{name!r} is not a declared output-argument query")
        if name in _stack:
            raise HeroQLError(
                f"query {name}: recursive output-argument queries are not "
                "supported (use `func` + the fixpoint rules, draft:81-84)"
            )
        if len(arg_cols) != len(decl.ins):
            raise HeroQLError(
                f"query {name}: {len(arg_cols)} argument(s) != {len(decl.ins)} declared"
            )
        env = {n: c for (n, _t), c in zip(decl.ins, arg_cols)}
        for lit in decl.body:
            ctx = _ExprCtx(self, None, env)
            if isinstance(lit, P.AssignLit):
                env[lit.var] = self._expr(lit.expr, ctx)
            elif isinstance(lit, P.CompareLit):
                frame.df = frame.df.where(self._expr(lit.expr, ctx))
            elif isinstance(lit, P.CallLit):
                inner = self._eval_out_query(
                    self._resolve_ref(lit.name),
                    [self._expr(a, ctx) for a in lit.args],
                    frame,
                    _stack + (name,),
                )
                for v, (on, _t) in zip(lit.outs, self.outqueries[
                    self._resolve_ref(lit.name)
                ].outs):
                    env[v] = inner[on]
        return {on: env[on] for on, _t in decl.outs}

    def _inline_call(self, lit: "P.CallLit", frame: Frame) -> None:
        """`x2 <- Square(x)` in a rule body: inline the function over
        the current frame — argument expressions read caller columns,
        out columns land as new frame variables (or equality filters
        when the variable is already bound)."""
        if frame.df is None:
            raise HeroQLError("`<-` call before any atom")
        name = self._resolve_ref(lit.name)
        decl = self.outqueries.get(name)
        if decl is None:
            raise HeroQLError(f"{lit.name!r} is not a declared output-argument query")
        if len(lit.outs) != len(decl.outs):
            raise HeroQLError(
                f"query {name}: {len(lit.outs)} output variable(s) != "
                f"{len(decl.outs)} declared"
            )
        for a in lit.args:
            self._force_derefs(a, frame)
        ctx = _ExprCtx(self, frame)
        arg_cols = [self._expr(a, ctx) for a in lit.args]
        out_cols = self._eval_out_query(name, arg_cols, frame)
        for v, (on, _t) in zip(lit.outs, decl.outs):
            col = out_cols[on]
            if frame.has(v):
                frame.df = frame.df.where(frame.col(v) == col)
            else:
                frame.df = frame.df.withColumn(v, col)
                frame.vars[v] = None

    # ---------------------------------------------- @-command dialect
    # (Kernel/README.md "order_by, order_by_desc" / "partition" /
    # "aggregation" / UPDATE sections — the README's own query surface,
    # compiled onto the existing window/groupBy/mutation machinery)

    def _classify_out_query(self, q: "P.OutQueryDecl") -> str:
        """scalar (pure `<-` computation, inlined at call sites) |
        relational (atoms + @partition/@order_by/@aggregate — a derived
        relation) | procedure (@insert/@update/@remove — invoked as a
        `Name(args);` statement)."""
        has_proc = any(isinstance(l, P.MutCmdLit) for l in q.body)
        has_rel = any(
            isinstance(
                l,
                (P.Atom, P.NotLit, P.ExistsLit, P.EnsureLit,
                 P.PartitionCmd, P.AggregateCmd, P.OrderCmd),
            )
            for l in q.body
        )
        if has_proc and has_rel:
            raise HeroQLError(
                f"query {q.name}: @insert/@update/@remove bodies cannot mix "
                "with relational literals"
            )
        if has_proc:
            if q.outs:
                raise HeroQLError(
                    f"query {q.name}: procedure queries declare no outputs"
                )
            return "procedure"
        return "relational" if has_rel else "scalar"

    def _check_procedure(self, q: "P.OutQueryDecl") -> None:
        """Declaration-time validation of a mutation query (README
        AddExam/UpdateExam/RemoveExam): only @-commands in the body,
        one argument per column of a declared target, every referenced
        name a declared parameter, enum member or global (an @-marked
        name a parameter), @-marks only in @update (at least one), no
        wildcard @insert columns."""
        params = {n for n, _t in q.ins}
        for lit in q.body:
            if not isinstance(lit, P.MutCmdLit):
                raise HeroQLError(
                    f"query {q.name}: procedure bodies take @insert/@update/"
                    "@remove commands only"
                )
            d = self.defs.get(lit.atom.name)
            if d is not None and len(lit.atom.args) != len(d.fields):
                raise HeroQLError(
                    f"query {q.name}: @{lit.kind} {lit.atom.name} has "
                    f"{len(lit.atom.args)} argument(s) for {len(d.fields)} column(s)"
                )
            marked = [a for a in lit.atom.args if isinstance(a, P.AtMarked)]
            if lit.kind == "update" and not marked:
                raise HeroQLError(
                    f"query {q.name}: @update marks no @column to set"
                )
            if lit.kind != "update" and marked:
                raise HeroQLError(
                    f"query {q.name}: @-marked columns only apply to @update"
                )
            for a in lit.atom.args:
                if isinstance(a, P.Wildcard):
                    if lit.kind == "insert":
                        raise HeroQLError(
                            f"query {q.name}: @insert needs a value for every column"
                        )
                    continue
                if isinstance(a, P.AtMarked):
                    free = {a.name} - params
                else:
                    free = self._var_names(a) - params - self.globals.keys()
                if free:
                    raise HeroQLError(
                        f"query {q.name}: {sorted(free)} not among the "
                        "declared parameters"
                    )

    def _check_at_query(self, q: "P.OutQueryDecl") -> None:
        """Declaration-time boundness for a relational @-query: every
        declared in/out must be bound by an atom pattern, a `<-`
        binding, an @order_by rank, or a call output."""
        ins = {n for n, _t in q.ins}
        outs = {n for n, _t in q.outs}
        if ins & outs:
            raise HeroQLError(f"query {q.name}: {sorted(ins & outs)} both in and out")
        bound: set = set()
        for lit in q.body:
            if isinstance(lit, P.Atom):
                for a in lit.args:
                    self._var_names(a, bound)
            elif isinstance(lit, P.AssignLit):
                bound.add(lit.var)
            elif isinstance(lit, P.OrderCmd):
                bound.add(lit.var)
            elif isinstance(lit, P.CallLit):
                bound.update(lit.outs)
        missing = (ins | outs) - bound
        if missing:
            raise HeroQLError(
                f"query {q.name}: argument(s) {sorted(missing)} never bound"
            )

    _AT_AGG_FUNCS = ("average", "sum", "count", "min", "max")

    def _rank_topk_bound(self, var: str, rest: list, q) -> int | None:
        """Largest rank the body can surface for rank variable `var`,
        or None when the rank is used for anything but upper-bounded
        filtering: `var` must not be an output, and every use in the
        remaining literals must be a `var < K` / `var <= K` compare
        against an int constant. The bound licenses the per-partition
        top-K pre-prune (global ranks below the bound are unchanged by
        dropping rows that are not in their partition's top-K)."""
        if any(n == var for n, _t in list(q.ins) + list(q.outs)):
            return None
        bound = None
        for lit in rest:
            if isinstance(lit, P.CompareLit):
                e = lit.expr
                if (
                    isinstance(e, P.BinOp)
                    and e.op in ("<", "<=")
                    and isinstance(e.left, P.Var)
                    and e.left.name == var
                    and isinstance(e.right, P.Const)
                    and isinstance(e.right.value, int)
                ):
                    k = e.right.value + (1 if e.op == "<=" else 0)
                    bound = k if bound is None else min(bound, k)
                    continue
                if (
                    isinstance(e, P.BinOp)
                    and e.op in (">", ">=")
                    and isinstance(e.right, P.Var)
                    and e.right.name == var
                    and isinstance(e.left, P.Const)
                    and isinstance(e.left.value, int)
                ):
                    k = e.left.value + (1 if e.op == ">=" else 0)
                    bound = k if bound is None else min(bound, k)
                    continue
            if var in self._lit_var_names(lit):
                return None
        return bound if (bound is not None and bound > 0) else None

    def _lit_var_names(self, lit) -> set:
        """Variable references of one relational @-query literal."""
        out: set = set()
        if isinstance(lit, P.Atom):
            for a in lit.args:
                self._var_names(a, out)
        elif isinstance(lit, (P.NotLit, P.ExistsLit)):
            out |= self._lit_var_names(lit.atom)
        elif isinstance(lit, (P.AssignLit, P.CompareLit, P.EnsureLit)):
            self._var_names(lit.expr, out)
            if isinstance(lit, P.AssignLit):
                out.add(lit.var)
        elif isinstance(lit, P.CallLit):
            for a in lit.args:
                self._var_names(a, out)
            out.update(lit.outs)
        elif isinstance(lit, P.PartitionCmd):
            for k in lit.keys:
                self._var_names(k, out)
        elif isinstance(lit, P.OrderCmd):
            self._var_names(lit.expr, out)
            out.add(lit.var)
        elif isinstance(lit, P.AggregateCmd):
            for _fn, arg in lit.items:
                self._var_names(arg, out)
        return out

    def _at_agg(self, fn: str, col, dtype):
        """README `@aggregate` functions. Integer-typed `average`
        floors to a BIGINT (the README declares `average : int`; FLOOR
        is exact Spark-vs-DuckDB because integer sums divide to the
        same IEEE double on both engines)."""
        if fn == "count":
            return F.count(F.lit(1) if col is None else col)
        if fn == "sum":
            return F.sum(col)
        if fn == "min":
            return F.min(col)
        if fn == "max":
            return F.max(col)
        if fn == "average":
            if isinstance(
                dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
            ):
                return F.floor(F.avg(col)).cast("long")
            return F.avg(col)
        raise HeroQLError(
            f"unknown @aggregate function {fn!r} (expected one of "
            f"{', '.join(self._AT_AGG_FUNCS)})"
        )

    def _eval_at_query(self, q: "P.OutQueryDecl") -> DataFrame:
        """Evaluate a relational @-command query to its derived
        relation (fields = ins + outs, set semantics like rules).

        Compilation is one declarative plan: atoms join exactly as in
        rule bodies; `@partition(keys)` sets the scope of what follows;
        `var <- @order_by_desc(x)` is a window ROW_NUMBER()-1 (0-based,
        so the README's `order < 10` keeps the top 10) partitioned by
        the scope keys, ties broken by the current frame columns in
        binding order (the determinism contract heroql_pipeline pins);
        `@aggregate(f(x), ...)` collapses to the scope keys, REBINDING
        each argument variable to its aggregate (the README's
        `average <- score` then reads the aggregated score). At scale
        this is the same window/partial-agg shuffle shape a
        hand-written DataFrame program produces."""
        frame = Frame(self)
        part_keys: list[str] = []
        for li, lit in enumerate(q.body):
            if isinstance(lit, P.PartitionCmd):
                names = []
                for k in lit.keys:
                    if not isinstance(k, P.Var) or not frame.has(k.name):
                        raise HeroQLError(
                            f"query {q.name}: @partition keys must be bound "
                            "variables"
                        )
                    names.append(k.name)
                part_keys = names
            elif isinstance(lit, P.OrderCmd):
                if frame.df is None:
                    raise HeroQLError(f"query {q.name}: @order_by before any atom")
                if frame.has(lit.var):
                    raise HeroQLError(
                        f"query {q.name}: rank variable {lit.var!r} already bound"
                    )
                self._force_derefs(lit.expr, frame)
                ocol = self._expr(lit.expr, _ExprCtx(self, frame))
                ocol = ocol.desc() if lit.desc else ocol.asc()
                tiebreak = [F.col(c) for c in frame.df.columns]
                if not part_keys:
                    # 100-TB shape: a GLOBAL rank funnels every row
                    # through ONE window partition. When the rest of
                    # the body provably uses the rank only as a top-K
                    # filter (the README's Top10: `order < 10`),
                    # pre-prune each scan partition to its local
                    # top-K — any global-top-K row is also in its
                    # partition's top-K, and every rank the query
                    # SURFACES (< K) is unchanged, so the global sort
                    # sees ≤ K x partitions rows instead of the table
                    bound = self._rank_topk_bound(lit.var, q.body[li + 1 :], q)
                    if bound is not None:
                        pw = Window.partitionBy(F.spark_partition_id()).orderBy(
                            ocol, *tiebreak
                        )
                        frame.df = (
                            frame.df.withColumn("_pr", F.row_number().over(pw))
                            .where(F.col("_pr") <= bound)
                            .drop("_pr")
                        )
                w = (
                    Window.partitionBy(*[F.col(k) for k in part_keys])
                    if part_keys
                    else Window
                ).orderBy(ocol, *tiebreak)
                frame.df = frame.df.withColumn(
                    lit.var, (F.row_number().over(w) - 1).cast("long")
                )
                frame.vars[lit.var] = None
            elif isinstance(lit, P.AggregateCmd):
                if frame.df is None:
                    raise HeroQLError(f"query {q.name}: @aggregate before any atom")
                aggs = []
                for fn, arg in lit.items:
                    if not isinstance(arg, P.Var) or not frame.has(arg.name):
                        raise HeroQLError(
                            f"query {q.name}: @aggregate arguments must be "
                            "bound variables"
                        )
                    col = frame.col(arg.name)
                    dtype = frame.df.schema[arg.name].dataType
                    aggs.append(self._at_agg(fn, col, dtype).alias(arg.name))
                gb = (
                    frame.df.groupBy(*[F.col(k) for k in part_keys])
                    if part_keys
                    else frame.df.groupBy()
                )
                nf = Frame(self)
                nf.df = gb.agg(*aggs)
                nf.vars = {k: frame.vars.get(k) for k in part_keys}
                nf.vars.update({arg.name: None for _fn, arg in lit.items})
                frame = nf
            else:
                self._compile_literal(lit, frame)
        if frame.df is None:
            raise HeroQLError(f"query {q.name}: body binds no atoms")
        cols = []
        for n, _t in list(q.ins) + list(q.outs):
            if not frame.has(n):
                raise HeroQLError(f"query {q.name}: argument {n!r} never bound")
            cols.append(frame.col(n).alias(n))
        return frame.df.select(cols).distinct()

    def _exec_call(self, call: "P.CallStmt") -> None:
        """Invoke a declared procedure query (README UPDATE sections):
        fold each argument through _value and bind it to its parameter,
        then lower each @-command onto the ordinary statement, whose
        expressions see the parameters as literals: `@insert T(..)` is
        `set T(..)` (a durable merge on snapshot tables),
        `@update T(k, @v)` is `update T(_c0, _c1) :- _c0 == k, _c1 = v;`
        and `@remove T(k, _)` is `remove T(_c0, _) :- _c0 == k;`."""
        name = call.atom.name
        decl = self.procs.get(name)
        if decl is None:
            raise HeroQLError(f"{name!r} is not a declared procedure query")
        if len(call.atom.args) != len(decl.ins):
            raise HeroQLError(
                f"{name}: {len(call.atom.args)} argument(s) != "
                f"{len(decl.ins)} declared"
            )
        env = {pname: self._value(a) for (pname, _t), a in zip(decl.ins, call.atom.args)}
        if getattr(decl, "transactional", False):
            # `transaction query` (Kernel/README.md TRANSACTION): the
            # whole mutation body runs atomically — one database
            # transaction (single pointer swap, full rollback) when a
            # database is bound, an O(1) session-state snapshot/restore
            # for in-memory tables (DataFrames are immutable refs)
            self._run_atomic(name, decl, lambda: self._exec_proc_body(decl, env))
            return
        self._exec_proc_body(decl, env)

    def _run_atomic(self, name: str, decl, fn) -> None:
        if self._txn is not None:
            fn()  # already inside run_transactional's transaction
            return
        touched = {self._cmd_target(lit) for lit in decl.body}
        if self._db is None and any(t in self._snapshots for t in touched):
            raise HeroQLError(
                f"{name}: a transaction query over durable tables needs "
                "register_database (per-table snapshots alone cannot roll "
                "back a multi-statement program atomically)"
            )
        # session-state snapshot for BOTH paths: the database
        # transaction rolls the durable side back by itself, but a
        # failing body must also revert in-memory tables, buffered
        # sets, memos AND the monotone delta log — a phantom log
        # entry for a rolled-back insert would later be folded into a
        # pre-transaction memo by incremental maintenance
        snap = (
            dict(self.tables),
            {k: list(v) for k, v in self._pending.items()},
            {k: list(v) for k, v in self._pending_src.items()},
            dict(self._memo),
            dict(self._memo_pos),
            list(self._delta_log),
        )

        def _restore() -> None:
            (self.tables, self._pending, self._pending_src,
             self._memo, self._memo_pos, self._delta_log) = snap

        if self._db is not None:
            try:
                with self._db.transaction() as t:
                    self._txn = t
                    try:
                        for n in list(self._snapshots):
                            if n in t._base_pins:
                                self._snapshot_reload(n)
                        fn()
                        for n in [n for n in self._pending if n in self._snapshots]:
                            self._flush(n)
                    finally:
                        self._txn = None
            except BaseException:
                _restore()
                raise
            finally:
                members = self._db.tables()
                for n in list(self._snapshots):
                    if n in members:
                        self._snapshot_reload(n)
            return
        try:
            fn()
            # force the body's lazily-buffered `set` batches to apply
            # INSIDE the atomic scope: a schema/constraint error must
            # surface here and restore, not fail some later reader
            for n in [n for n in touched if self._pending.get(n)]:
                self._flush(n)
        except BaseException:
            _restore()
            raise

    def _cmd_target(self, lit: "P.MutCmdLit") -> str:
        """The table an @-command mutates. Body atoms were canonicalized
        (and visibility-checked) at DECLARATION; re-resolving here must
        not re-apply the caller's visibility to the procedure's refs."""
        n = lit.atom.name
        return n if n in self.defs or n in self.tables else self._resolve_ref(n)

    def _exec_proc_body(self, decl, env: dict) -> None:
        for lit in decl.body:
            tname = self._cmd_target(lit)
            if lit.kind == "insert":
                self._exec_set(P.Atom(tname, lit.atom.args), env)
                continue
            pats: list = []
            body: list = []
            for i, a in enumerate(lit.atom.args):
                if isinstance(a, P.Wildcard):
                    pats.append(a)
                    continue
                pats.append(P.Var(f"_c{i}"))
                if isinstance(a, P.AtMarked):
                    body.append(P.AssignLit(f"_c{i}", P.Var(a.name)))
                else:
                    body.append(P.CompareLit(P.BinOp("==", P.Var(f"_c{i}"), a)))
            if lit.kind == "update":
                self._exec_update(P.UpdateStmt(tname, pats, body), env)
            else:
                self._exec_remove(P.RemoveStmt(tname, pats, body), env)

    def _apply_query_index(self, name: str, indexes: list) -> None:
        """Attach a standalone `index N { ... }` block: Hash/Unique
        entries become cached-query key sets (Kernel/README.md "Cached
        Query"); Unique/Ordered/AutoIncresed entries also land on the
        TableDef (replace-on-key `set`, ensure-set, violation checks,
        clustering hints). Nested `partition(e){...}` blocks arrive
        pre-flattened from the parser (partition keys prepended)."""
        d = self._def(name)
        fields = set(d.fields)
        key_sets = list(self.query_indexes.get(name, []))
        for ix in indexes:
            bad = [c for c in ix.cols if c not in fields]
            if bad or not ix.cols:
                raise HeroQLError(
                    f"index {name}: column(s) {bad or '(none)'} not in "
                    f"{sorted(fields)}"
                )
            if any(k in ("Hash", "Unique") for k in ix.kinds):
                if list(ix.cols) not in key_sets:
                    key_sets.append(list(ix.cols))
            if any(k in ("Unique", "Ordered", "AutoIncresed", "Cache") for k in ix.kinds):
                if not any(
                    e.kinds == ix.kinds and e.cols == ix.cols for e in d.indexes
                ):
                    d.indexes.append(ix)
            if "Unique" in ix.kinds and len(ix.cols) == 1 and d.key is None:
                d.key = ix.cols[0]
        if key_sets:
            self.query_indexes[name] = key_sets

    def _cached_subset(self, name: str, atom: P.Atom):
        """CACHED-QUERY resolution (Kernel/README.md "Cached Query")
        for an atom over an indexed relation: when the atom binds every
        column of a declared index to CONSTANTS, the per-value result
        subset is served from / computed into the cache.

        Protocol, per the README bullets:
        - cover resolution prefers an index already holding a computed
          entry for its key (the cheapest cached cover), else the most
          specific declared cover; a value combination covered by NO
          index returns None — the caller evaluates normally, nothing
          is cached;
        - a miss inserts the key in "calculating" status, evaluates the
          relation, pins the subset (eager localCheckpoint — cache
          entries must not recompute over mutated state), then flips to
          done;
        - re-entering the SAME key while it is calculating — a query
          recursive on the same index value — raises (the reference's
          stop-not-failure); a failed computation retracts the mark so
          a later submit retries. Mutations wipe the cache with the
          memos (the _qcache.clear() alongside every memo wipe)."""
        # pending `set` batches flush lazily inside table() — which a
        # cache HIT never reaches. Flush them first: the flush path
        # wipes the query cache (monotone delta or full mutation), so a
        # stale entry can never answer past an unflushed insert.
        for pname in list(self._pending):
            if self._pending.get(pname):
                self._flush(pname)
        tdef = self._def(name)
        if len(atom.args) != len(tdef.fields):
            return None  # arity error surfaces in _join_atom
        bound: dict[str, object] = {}
        for j, a in enumerate(atom.args):
            cv = self._const_value(a)
            if cv is not None or isinstance(a, P.Const):
                bound[tdef.fields[j]] = cv
        declared = self.query_indexes[name]
        covered = [ix for ix in declared if set(ix) <= set(bound)]
        if not covered:
            return None
        cover = None
        for ix in covered:
            ent = self._qcache.get((name, tuple(ix), tuple(bound[c] for c in ix)))
            if ent is not None and ent[0] == "done":
                cover = ix
                break
        if cover is None:
            cover = max(covered, key=lambda ix: (len(ix), -declared.index(ix)))
        key = (name, tuple(cover), tuple(bound[c] for c in cover))
        ent = self._qcache.get(key)
        if ent is not None:
            status, df = ent
            if status == "calculating":
                raise HeroQLError(
                    f"cached query {name}: index value {key[2]} is already "
                    "calculating — recursive on the same index value "
                    '(Kernel/README.md "Cached Query": an error stop, not a '
                    "filter failure)"
                )
            self._qcache_stats["hits"] += 1
            return df
        self._qcache_stats["misses"] += 1
        self._qcache[key] = ("calculating", None)
        try:
            sub = self.table(name)
            for c in cover:
                sub = sub.where(F.col(c) == F.lit(bound[c]))
            sub = sub.localCheckpoint(eager=True)
        except BaseException:
            self._qcache.pop(key, None)
            raise
        self._qcache[key] = ("done", sub)
        return sub

    def _join_atom(self, atom: P.Atom, frame: Frame, how: str, state: dict | None,
                   overrides: dict | None = None) -> None:
        df, fields, ftypes, rowcls, args = self._atom_source(atom, frame, state, overrides)

        # row-variable form: Person(p) (draft:59)
        if rowcls is not None and len(args) == 1 and isinstance(args[0], P.Var) and len(fields) > 1:
            self._bind_row_var(atom.name, args[0].name, df, frame, how)
            return

        if len(args) != len(fields):
            raise HeroQLError(f"{atom.name}: arity {len(args)} != {len(fields)}")

        # pre-resolve derefs in already-bound-side expressions so the
        # frame's df is stable before we capture column references
        for a in args:
            self._force_derefs(a, frame, only_bound=True)

        tmp = [f"__h{j}" for j in range(len(fields))]
        sel = df.select([F.col(c).alias(t) for c, t in zip(fields, tmp)])
        binds: dict[str, tuple] = {}  # var -> (Column over sel, class|None)
        filters = []  # sel-only predicates
        conds = []  # join predicates (frame side vs sel side)
        deferred = []

        struct_post: list[tuple] = []  # (hidden id var, StructPattern, declared type)
        for j, pat in enumerate(args):
            if isinstance(pat, P.Wildcard):
                continue
            if isinstance(pat, P.StructPattern):
                if how != "inner":
                    raise HeroQLError("constructor patterns are not supported in not/exists atoms")
                hidden = f"__u{j}"
                binds[hidden] = (sel[tmp[j]], ftypes[j])
                struct_post.append((hidden, pat, ftypes[j]))
                continue
            if isinstance(pat, P.Var) and self._enum_member(pat.name) is None:
                v = pat.name
                if v in binds:
                    filters.append(binds[v][0] == sel[tmp[j]])
                elif frame.has(v):
                    conds.append(frame.col(v) == sel[tmp[j]])
                else:
                    binds[v] = (sel[tmp[j]], ftypes[j])
                continue
            cv = self._const_value(pat)
            if cv is not None or isinstance(pat, P.Const):
                filters.append(sel[tmp[j]] == F.lit(cv))
                continue
            deferred.append((j, pat))

        for j, pat in deferred:
            ctx = _ExprCtx(self, frame if frame.df is not None else None,
                           {v: c for v, (c, _t) in binds.items()})
            try:
                e = self._expr(pat, ctx)
                side = self._expr_side(pat, frame, binds)
                if side == "sel":
                    filters.append(sel[tmp[j]] == e)
                else:
                    conds.append(sel[tmp[j]] == e)
            except _Unbound as ub:
                solved = self._invert(pat, sel[tmp[j]], ub.name, ctx)
                if solved is None:
                    raise HeroQLError(
                        f"argument {j + 1} of {atom.name} is not range-restricted: "
                        f"cannot solve for {ub.name!r}"
                    ) from None
                binds[ub.name] = (solved, None)

        if how in ("left_anti", "left_semi"):
            if frame.df is None:
                raise HeroQLError("not/exists before any positive atom")
            if not conds:
                raise HeroQLError(f"not/exists atom {atom.name!r} shares no bound variable")
            sub = sel.where(self._and(filters)) if filters else sel
            frame.df = frame.df.join(sub, self._and(conds), how)
            return

        if filters:
            sel = sel.where(self._and(filters))
        keep = [F.col(f"__h{j}") for j in range(len(fields))]
        bind_cols = []
        for v, (c, _t) in binds.items():
            bind_cols.append(c.alias(f"__b_{v}"))
        sel = sel.select(*keep, *bind_cols)

        if frame.df is None:
            if conds:
                raise HeroQLError("internal: join condition with empty frame")
            frame.df = sel.select([F.col(f"__b_{v}").alias(v) for v in binds])
        else:
            joined = frame.df.join(sel, self._and(conds), "inner") if conds else frame.df.crossJoin(sel)
            frame.df = joined.select(
                *[F.col(c) for c in frame.df.columns],
                *[F.col(f"__b_{v}").alias(v) for v in binds],
            )
        for v, (_c, t) in binds.items():
            frame.vars[v] = t
        for hidden, pat, hint in struct_post:
            self._apply_struct_pattern(frame, hidden, pat, hint)
            frame.df = frame.df.drop(hidden)
            del frame.vars[hidden]

    def _union_of_ctor(self, ctor: str, hint: str | None) -> str:
        if hint and self.types.get(hint, {}).get("kind") == "union" and ctor in self.types[hint]["members"]:
            return hint
        cands = sorted(
            n for n, t in self.types.items()
            if t["kind"] == "union" and ctor in t.get("members", ())
        )
        if len(cands) != 1:
            raise HeroQLError(
                f"constructor {ctor!r} belongs to {len(cands)} unions; "
                "declare the field's union type or disambiguate"
            )
        return cands[0]

    def _apply_struct_pattern(self, frame: Frame, idvar: str, pat: P.StructPattern,
                              hint: str | None) -> None:
        """`Type{p1, p2, ...}` (draft:123) against a tagged-union TERM
        TABLE: a union-typed field stores a term id; the union's data
        table (same name as the union) holds (key, tag, <fields of
        every constructor>) — the relational ADT encoding of
        operators/adt.py. The pattern compiles to one key join +
        a tag filter + field binds; nested patterns recurse, one join
        per nesting level."""
        ctor = self._resolve_ref(pat.ctor)
        cdef = self.types.get(ctor)
        if cdef is None or cdef["kind"] != "struct":
            raise HeroQLError(f"unknown constructor {pat.ctor!r}")
        union = self._union_of_ctor(ctor, hint)
        udef = self._def(union)
        if "tag" not in udef.fields:
            raise HeroQLError(f"union term table {union!r} needs a 'tag' column")
        sfields = cdef["fields"]
        if len(pat.args) != len(sfields):
            raise HeroQLError(f"{pat.ctor}: pattern arity {len(pat.args)} != {len(sfields)}")
        term = self.table(union)
        simple = ctor.split("::")[-1]

        aliases: dict[str, str] = {}  # struct field -> hidden column
        sel_cols = [F.col(udef.key).alias("__dk")]
        for fname, _ftype in sfields:
            if fname not in udef.fields:
                raise HeroQLError(f"term table {union!r} lacks constructor field {fname!r}")
            hid = f"__sf_{len(frame.df.columns)}_{fname}"
            aliases[fname] = hid
            sel_cols.append(F.col(fname).alias(hid))
        sel = term.where(F.col("tag") == F.lit(simple)).select(sel_cols)
        frame.df = frame.df.join(sel, frame.df[idvar] == sel["__dk"], "inner").drop("__dk")

        ctx = _ExprCtx(self, frame)
        for sub, (fname, ftype) in zip(pat.args, sfields):
            hid = aliases[fname]
            if isinstance(sub, P.Wildcard):
                frame.df = frame.df.drop(hid)
                continue
            if isinstance(sub, P.StructPattern):
                frame.vars[hid] = ftype
                self._apply_struct_pattern(frame, hid, sub, ftype)
                frame.df = frame.df.drop(hid)
                del frame.vars[hid]
                continue
            if isinstance(sub, P.Var) and self._enum_member(sub.name) is None and not frame.has(sub.name):
                frame.df = frame.df.withColumnRenamed(hid, sub.name)
                frame.vars[sub.name] = ftype if ftype in self.defs else None
                continue
            # bound variable / constant / expression → equality filter
            self._force_derefs(sub, frame)
            frame.df = frame.df.where(F.col(hid) == self._expr(sub, ctx)).drop(hid)

    def _bind_row_var(self, cls: str, v: str, df: DataFrame, frame: Frame, how: str) -> None:
        cdef = self._def(cls)
        if how in ("left_anti", "left_semi"):
            if not frame.has(v):
                raise HeroQLError(f"not/exists {cls}({v}) needs {v!r} bound")
            sub = df.select(F.col(cdef.key).alias("__k"))
            frame.df = frame.df.join(sub, frame.col(v) == sub["__k"], how)
            return
        if frame.has(v):
            missing = [f for f in cdef.fields if f"{v}__{f}" not in frame.df.columns]
            add = df.select(
                F.col(cdef.key).alias("__k"),
                *[F.col(f).alias(f"{v}__{f}") for f in missing],
            )
            frame.df = frame.df.join(add, frame.col(v) == add["__k"], "inner").drop("__k")
            frame.vars[v] = cls
            return
        sel = df.select(
            F.col(cdef.key).alias(v),
            *[F.col(f).alias(f"{v}__{f}") for f in cdef.fields],
        )
        frame.df = sel if frame.df is None else frame.df.crossJoin(sel)
        frame.vars[v] = cls

    @staticmethod
    def _and(cols: list):
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out

    def _expr_side(self, pat, frame: Frame, binds: dict) -> str:
        """'join' if the expression references any frame-bound variable
        (→ a join predicate between the two sides), else 'sel' (a plain
        filter over this atom's selection — its own binds and/or
        constants)."""
        names = self._var_names(pat)
        if any(frame.has(n) and n not in binds for n in names):
            return "join"
        return "sel"

    def _var_names(self, e, out: set | None = None) -> set:
        """Names expression `e` references, added to `out`; enum
        members (`Member`, `Enum.Member`) are constants, not names."""
        out = set() if out is None else out
        if isinstance(e, P.Var):
            if self._enum_member(e.name) is None:
                out.add(e.name)
        elif isinstance(e, P.BinOp):
            self._var_names(e.left, out)
            self._var_names(e.right, out)
        elif isinstance(e, P.UnaryOp):
            self._var_names(e.operand, out)
        elif isinstance(e, P.FieldAccess):
            if isinstance(e.base, P.Var) and e.base.name in self.enums:
                return out
            self._var_names(e.base, out)
        elif isinstance(e, P.IfExpr):
            self._var_names(e.cond, out)
            self._var_names(e.then, out)
            if e.other is not None:
                self._var_names(e.other, out)
        elif isinstance(e, P.InterpString):
            for p in e.parts:
                if not isinstance(p, str):
                    self._var_names(p, out)
        return out

    def _invert(self, pat, target, unknown: str, ctx: _ExprCtx):
        """Solve `pat == target` for the single unbound variable in
        linear +/- forms: v, v±c, c±v (draft:84 `Fib(a-1, x)`)."""
        if isinstance(pat, P.Var) and pat.name == unknown:
            return target
        if isinstance(pat, P.BinOp) and pat.op in ("+", "-"):
            lnames = self._var_names(pat.left)
            rnames = self._var_names(pat.right)
            if unknown in lnames and unknown not in rnames:
                try:
                    rhs = self._expr(pat.right, ctx)
                except _Unbound:
                    return None
                inner = target - rhs if pat.op == "+" else target + rhs
                return self._invert(pat.left, inner, unknown, ctx)
            if unknown in rnames and unknown not in lnames:
                try:
                    lhs = self._expr(pat.left, ctx)
                except _Unbound:
                    return None
                inner = target - lhs if pat.op == "+" else lhs - target
                return self._invert(pat.right, inner, unknown, ctx)
        return None

    # ------------------------------------------------------------ expressions

    def _force_derefs(self, e, frame: Frame, only_bound: bool = False) -> None:
        """Materialize every `var.field` deref reachable from `e` into
        the frame BEFORE column references are captured."""
        if isinstance(e, P.FieldAccess):
            chain = []
            base = e
            while isinstance(base, P.FieldAccess):
                chain.append(base.name)
                base = base.base
            if isinstance(base, P.Var) and base.name not in self.enums:
                v = base.name
                if frame.has(v):
                    for fname in reversed(chain):
                        cname = frame.ensure_field(v, fname)
                        cdef = self._def(frame.vars[v])
                        i = cdef.fields.index(fname)
                        t = cdef.types[i] if cdef.types else None
                        if t in self.defs and len(chain) > 1:
                            # promote the deref'd column to a row var for
                            # the next hop
                            frame.vars[cname] = t
                            v = cname
                        else:
                            break
                elif not only_bound:
                    raise _Unbound(v)
            return
        if isinstance(e, P.BinOp):
            self._force_derefs(e.left, frame, only_bound)
            self._force_derefs(e.right, frame, only_bound)
        elif isinstance(e, P.UnaryOp):
            self._force_derefs(e.operand, frame, only_bound)
        elif isinstance(e, P.IfExpr):
            self._force_derefs(e.cond, frame, only_bound)
            self._force_derefs(e.then, frame, only_bound)
            if e.other is not None:
                self._force_derefs(e.other, frame, only_bound)
        elif isinstance(e, P.InterpString):
            for p in e.parts:
                if not isinstance(p, str):
                    self._force_derefs(p, frame, only_bound)

    def _expr(self, e, ctx: _ExprCtx):
        if isinstance(e, P.Const):
            return F.lit(e.value)
        if isinstance(e, P.Var):
            return ctx.resolve(e.name)
        if isinstance(e, P.FieldAccess):
            if isinstance(e.base, P.Var) and e.base.name in self.enums:
                if e.name not in self.enums[e.base.name]:
                    raise HeroQLError(f"{e.base.name} has no member {e.name!r}")
                return F.lit(e.name)
            chain = []
            base = e
            while isinstance(base, P.FieldAccess):
                chain.append(base.name)
                base = base.base
            if not isinstance(base, P.Var):
                raise HeroQLError("field access must start from a variable")
            v = base.name
            if ctx.frame is not None and ctx.frame.has(v):
                for fname in reversed(chain):
                    v = ctx.frame.ensure_field(v, fname)
                return ctx.frame.df[v]
            if v in ctx.classes:
                return self._deref_scalar(ctx.classes[v], ctx.extra[v], chain[::-1])
            if v in ctx.extra and ctx.frame is None:
                raise HeroQLError(f"variable {v!r} is a scalar; cannot access field {chain[-1]!r}")
            raise _Unbound(v)
        if isinstance(e, P.BinOp):
            left = self._expr(e.left, ctx)
            right = self._expr(e.right, ctx)
            return {
                "==": lambda: left == right,
                "!=": lambda: left != right,
                "<": lambda: left < right,
                "<=": lambda: left <= right,
                ">": lambda: left > right,
                ">=": lambda: left >= right,
                "+": lambda: left + right,
                "-": lambda: left - right,
                "*": lambda: left * right,
                "/": lambda: left / right,
                "and": lambda: left & right,
                "or": lambda: left | right,
            }[e.op]()
        if isinstance(e, P.UnaryOp):
            operand = self._expr(e.operand, ctx)
            return ~operand if e.op == "not" else -operand
        if isinstance(e, P.IfExpr):
            cond = self._expr(e.cond, ctx)
            then = self._expr(e.then, ctx)
            other = F.lit(True) if e.other is None else self._expr(e.other, ctx)
            return F.when(cond, then).otherwise(other)
        if isinstance(e, P.InterpString):
            # $"..." (draft_type:257): literals stay literal, every
            # $(ref) renders through CAST(.. AS STRING). NULL refs
            # render as 'null' (plain concat is null-propagating and
            # would silently null the whole diagnostic message)
            cols = [
                F.lit(p) if isinstance(p, str)
                else F.coalesce(self._expr(p, ctx).cast("string"), F.lit("null"))
                for p in e.parts
            ]
            return F.concat(*cols) if cols else F.lit("")
        raise HeroQLError(f"unsupported expression {type(e).__name__}")

    def _deref_scalar(self, cls: str, key, chain: list):
        """`v.f.g` in a row context (no frame), where `key` holds a key
        of class `cls`: a correlated scalar subquery on the class key,
        so the value stays a Column over the row's own table. Each
        further hop joins the next class table into the subquery. Spark
        refuses an unaggregated correlated scalar subquery; the key is
        unique, so `max` reads the one match, and a dangling key reads
        NULL."""
        src = None
        for i, fname in enumerate(chain):
            if cls is None:
                raise HeroQLError(f"field {chain[i - 1]!r} is a scalar; cannot access field {fname!r}")
            cdef = self._def(cls)
            if fname not in cdef.fields:
                raise HeroQLError(f"{cls} has no field {fname!r}")
            hop = self.table(cls).select(
                F.col(cdef.key).alias(f"__d{i}"), F.col(fname).alias(f"__d{i + 1}")
            )
            src = hop if src is None else src.join(hop, f"__d{i}")
            t = cdef.types[cdef.fields.index(fname)] if cdef.types else None
            cls = t if t in self.defs else None
        return (
            src.where(F.col("__d0") == key.outer())
            .select(F.max(f"__d{len(chain)}"))
            .scalar()
        )

    def _project_head(self, head: P.Atom, frame: Frame, fields: list[str]) -> DataFrame:
        if len(head.args) != len(fields):
            raise HeroQLError(f"{head.name}: head arity {len(head.args)} != {len(fields)}")
        for a in head.args:
            self._force_derefs(a, frame)
        ctx = _ExprCtx(self, frame)
        cols = []
        for a, f in zip(head.args, fields):
            if isinstance(a, P.Wildcard):
                raise HeroQLError("wildcard not allowed in a rule head")
            cols.append(self._expr(a, ctx).alias(f))
        return frame.df.select(cols).distinct()

    # ------------------------------------------------------------ queries

    def _eval_query(self, q: P.QueryDecl) -> DataFrame:
        frame = self._compile_body(q.body)
        ctx = _ExprCtx(self, frame)
        cols = []
        for i, a in enumerate(q.args):
            if isinstance(a, P.Wildcard):
                continue
            self._force_derefs(a, frame)
            name = a.name if isinstance(a, P.Var) else f"col{i}"
            cols.append(self._expr(a, ctx).alias(name))
        if not cols:
            raise HeroQLError("query projects no columns")
        return frame.df.select(cols).distinct()

    def _eval_collection(self, q: P.CollectionQuery) -> DataFrame:
        frame = self._compile_body(q.body)
        # header projection (draft:149): named vars only; frame keeps
        # var typing so later stages can deref (group_by student.class)
        keep: list[str] = []
        for a in q.args:
            if isinstance(a, P.Wildcard):
                continue
            if not isinstance(a, P.Var):
                raise HeroQLError("collection_query header takes variables or _")
            if not frame.has(a.name):
                raise _Unbound(a.name)
            keep.append(a.name)
        nf = Frame(self)
        nf.df = frame.df.select(keep)
        nf.vars = {v: frame.vars[v] for v in keep}
        frame = nf

        order: tuple | None = None  # (expr-Column builder, desc)
        for stage in q.stages:
            if isinstance(stage, P.WhereStage):
                self._force_derefs(stage.expr, frame)
                frame.df = frame.df.where(self._expr(stage.expr, _ExprCtx(self, frame)))
            elif isinstance(stage, P.PartitionByStage):
                frame = self._stage_partition_by(stage, frame)
            elif isinstance(stage, P.GroupByStage):
                frame = self._stage_group_by(stage, frame)
            elif isinstance(stage, P.OrderByStage):
                self._force_derefs(stage.expr, frame)
                order = (self._expr(stage.expr, _ExprCtx(self, frame)), stage.desc)
                frame.df = frame.df.orderBy(order[0].desc() if stage.desc else order[0])
            elif isinstance(stage, P.RangeByStage):
                cols = [F.col(c) for c in frame.df.columns]
                if order is not None:
                    first = order[0].desc() if order[1] else order[0]
                    ordering = [first] + cols
                else:
                    ordering = cols
                w = Window.orderBy(*ordering)
                frame.df = (
                    frame.df.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn").between(stage.first, stage.last))
                    .drop("__rn")
                )
            else:
                raise HeroQLError(f"unsupported stage {type(stage).__name__}")
        return frame.df

    def _stage_partition_by(self, stage: P.PartitionByStage, frame: Frame) -> Frame:
        for k in stage.keys:
            self._force_derefs(k, frame)
        for it in stage.items:
            if it.arg is not None:
                self._force_derefs(it.arg, frame)
        ctx = _ExprCtx(self, frame)
        keys = [self._expr(k, ctx) for k in stage.keys]
        ordered = [it for it in stage.items if it.func in ("OrderBy", "OrderByDesc")]
        if len(ordered) != 1:
            raise HeroQLError("partition_by needs exactly one OrderBy/OrderByDesc item")
        oit = ordered[0]
        ocol = self._expr(oit.arg, ctx)
        ocol = ocol.desc() if oit.func == "OrderByDesc" else ocol.asc()
        if oit.k > 0:
            tiebreak = [F.col(c) for c in frame.df.columns]
            w = Window.partitionBy(*keys).orderBy(ocol, *tiebreak)
            df = frame.df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= oit.k)
        else:
            # OrderByDesc(score) without a k is a pure sequence
            # function (draft:162) — no top-k filter
            df = frame.df
        out_cols, out_vars = [], {}
        for it in stage.items:
            if it.func in ("OrderBy", "OrderByDesc"):
                out_cols.append(self._expr(it.arg, ctx).alias(it.alias))
                out_vars[it.alias] = None
            else:
                out_cols.append(self._expr(it.arg, ctx).alias(it.alias))
                out_vars[it.alias] = (
                    frame.vars.get(it.arg.name) if isinstance(it.arg, P.Var) else None
                )
        nf = Frame(self)
        nf.df = df.select(out_cols)
        nf.vars = out_vars
        return nf

    _AGGS = {
        "Count": lambda c: F.count(c if c is not None else F.lit(1)),
        "Average": lambda c: F.avg(c),
        "Sum": lambda c: F.sum(c),
        "Min": lambda c: F.min(c),
        "Max": lambda c: F.max(c),
        "Collect": lambda c: F.concat_ws("|", F.sort_array(F.collect_list(c.cast("string")))),
    }

    def _stage_group_by(self, stage: P.GroupByStage, frame: Frame) -> Frame:
        for k in stage.keys:
            self._force_derefs(k, frame)
        for it in stage.items:
            if it.arg is not None:
                self._force_derefs(it.arg, frame)
        ctx = _ExprCtx(self, frame)
        key_alias: list[str] = []
        for i, k in enumerate(stage.keys):
            alias = None
            for it in stage.items:
                if it.func == "" and it.arg == k:
                    alias = it.alias
            key_alias.append(alias or (k.name if isinstance(k, P.Var) else f"_k{i}"))
        gb = frame.df.groupBy(
            *[self._expr(k, ctx).alias(a) for k, a in zip(stage.keys, key_alias)]
        )
        aggs, out_vars = [], {}
        for a, k in zip(key_alias, stage.keys):
            out_vars[a] = frame.vars.get(k.name) if isinstance(k, P.Var) else None
        for it in stage.items:
            if it.func == "":
                if it.arg not in stage.keys:
                    raise HeroQLError(
                        f"group_by passthrough {it.alias!r} must be a grouping key"
                    )
                continue
            if it.func in ("OrderBy", "OrderByDesc"):
                raise HeroQLError("OrderBy belongs in partition_by, not group_by")
            fn = self._AGGS[it.func]
            arg = self._expr(it.arg, ctx) if it.arg is not None else None
            aggs.append(fn(arg).alias(it.alias))
            out_vars[it.alias] = None
        nf = Frame(self)
        if aggs:
            nf.df = gb.agg(*aggs)
        else:
            # passthrough-only group_by = the distinct key set; don't
            # invent columns the program never declared
            nf.df = frame.df.select(
                *[self._expr(k, ctx).alias(a) for k, a in zip(stage.keys, key_alias)]
            ).distinct()
        nf.vars = out_vars
        if stage.having is not None:
            nf.df = nf.df.where(self._expr(stage.having, _ExprCtx(self, nf)))
        return nf

    # ------------------------------------------------------------ mutations

    def _exec_set(self, atom: P.Atom, env: dict | None = None) -> None:
        """The one insert step of `set` and `@insert`: the arity is
        checked and every argument folds through _value before the row
        is buffered."""
        if atom.member_of is not None:
            raise HeroQLError("member set is only valid inside `for query` actions")
        d = self.defs.get(atom.name)
        if d is not None and len(atom.args) != len(d.fields):
            raise HeroQLError(
                f"{atom.name}: {len(atom.args)} value(s) for {len(d.fields)} column(s)"
            )
        row = tuple(self._value(a, env) for a in atom.args)
        self._pending.setdefault(atom.name, []).append(row)
        if self._cur_src:
            self._pending_src.setdefault(atom.name, []).append(self._cur_src)

    def _mut_cond(self, kind: str, name: str, patterns: list, body: list,
                  env: dict | None = None, updates: dict | None = None) -> tuple:
        """Compile an update/remove over table `name` → (df, row
        condition). A pattern is `_`, a fresh variable (it binds its
        column) or any expression, compared to its column; the body
        compiles in the same row context, where a later `=` local
        shadows a pattern variable. Comparisons AND into the condition;
        with `updates`, `=` to a pattern variable assigns that column
        instead of binding a local."""
        self._flush(name)
        d = self._def(name)
        if name in self.rules:
            raise HeroQLError(f"{name!r} is rule-defined; mutate base tables only")
        df = self.table(name)
        if len(patterns) != len(d.fields):
            raise HeroQLError(f"{name}: pattern arity {len(patterns)} != {len(d.fields)}")
        names: list = []
        for pat in patterns:
            fresh = (
                isinstance(pat, P.Var)
                and pat.name not in (env or {})
                and pat.name not in names
                and self._enum_member(pat.name) is None
            )
            names.append(pat.name if fresh else None)
        ctx = self._row_ctx(d, names, env)
        conds = [
            F.col(f) == self._expr(pat, ctx)
            for pat, f, n in zip(patterns, d.fields, names)
            if n is None and not isinstance(pat, P.Wildcard)
        ]
        mapping = {n: f for n, f in zip(names, d.fields) if n is not None}
        for lit in body:
            if isinstance(lit, P.CompareLit):
                conds.append(self._expr(lit.expr, ctx))
            elif isinstance(lit, P.AssignLit):
                val = self._expr(lit.expr, ctx)
                if updates is not None and lit.var in mapping:
                    updates[mapping[lit.var]] = val
                else:
                    ctx.extra[lit.var] = val
                    ctx.classes.pop(lit.var, None)
            else:
                raise HeroQLError(f"{kind} bodies take comparisons and `=` only")
        return df, self._and(conds) if conds else F.lit(True)

    def _exec_update(self, u: P.UpdateStmt, env: dict | None = None) -> None:
        """`update T(a,b,c) :- a == b, c = a + b;` (draft:131): body
        comparisons select rows; `=` to a pattern variable sets its
        column SIMULTANEOUSLY from the old values. Key columns stay
        fixed, in memory as on snapshot tables: keys identify rows."""
        updates: dict[str, object] = {}
        df, cond = self._mut_cond("update", u.name, u.patterns, u.body, env, updates)
        if not updates:
            raise HeroQLError("update assigns no pattern variable")
        bad = [c for c in self._key_cols(u.name) if c in updates]
        if bad:
            raise HeroQLError(f"update may not assign key column(s) {bad} of {u.name!r}")
        out = df.select(
            *[
                (F.when(cond, updates[c]).otherwise(F.col(c)).alias(c) if c in updates else F.col(c))
                for c in df.columns
            ]
        )
        # a rewrite must not smuggle in rows that `set` would reject
        self._check_where(self._def(u.name), out, "update")
        if u.name in self._snapshots:
            # identical CASE-projection semantics, committed as one
            # copy-on-write version bounded to touched partitions
            self._commit_mutation(u.name, "update_where", cond, updates)
        else:
            self.tables[u.name] = out
        self._after_mutation(u.name)

    def _exec_migrate(self, s: "P.MigrateStmt") -> None:
        """`update schema T (col = expr, ...)` — schema migration with
        a data-moving procedure (Kernel/README.md ADMINISTRATION).
        Expressions reference the OLD columns; the transform commits
        ONE durable version (through a single-statement database
        transaction when a database is bound), the statement text
        lands in the program log like any mutation, and the session
        re-binds the table at its new shape. Old versions stay
        readable at their recorded schemas (`T@k` atoms), and
        `changes(T, f, t)` across the boundary follows
        SnapshotTable.migrate's CDC rule."""
        name = self._resolve_ref(s.name)
        snap = self._snapshots.get(name)
        if snap is None:
            raise HeroQLError(
                f"{name!r}: update schema needs a snapshot-backed table "
                "(register_snapshot / register_database)"
            )
        if self._txn is not None:
            raise HeroQLError(
                "update schema: run schema migrations outside a "
                "transactional program (the migration publishes its own "
                "atomic commit)"
            )
        d = self._def(name)
        if name in self.rules:
            raise HeroQLError(f"{name!r} is rule-defined; migrate base tables only")
        self._flush(name)
        ctx = self._row_ctx(d)
        cols: dict = {}
        for cname, expr in s.items:
            if cname in cols:
                raise HeroQLError(f"update schema {name}: column {cname!r} repeated")
            self._canon_expr(expr)
            cols[cname] = self._expr(expr, ctx)
        self._commit_mutation(name, "migrate", cols, s.key_cols, s.partition)
        # the table's SHAPE changed: rebuild the session binding
        was_class = d.is_class
        self.defs.pop(name, None)
        self.tables.pop(name, None)
        self._snapshots.pop(name, None)
        self._snapshot_versions.pop(name, None)
        self.register_snapshot(name, snap, is_class=was_class)
        self._after_mutation(name)

    def _exec_remove(self, r: P.RemoveStmt, env: dict | None = None) -> None:
        self._flush(r.name)
        if r.patterns is None:  # remove T;  (draft:134)
            if r.name in self._snapshots:
                self._commit_mutation(r.name, "delete_where", F.lit(True))
            else:
                df = self.table(r.name)
                self.tables[r.name] = df.where(F.lit(False))
            self._after_mutation(r.name)
            return
        df, cond = self._mut_cond("remove", r.name, r.patterns, r.body, env)
        if r.name in self._snapshots:
            self._commit_mutation(r.name, "delete_where", cond)
        else:
            # coalesce: a NULL predicate means NOT matched — the row
            # stays (SQL DELETE semantics, and what delete_where does)
            self.tables[r.name] = df.where(~F.coalesce(cond, F.lit(False)))
        self._after_mutation(r.name)

    def _validate_card(self, rel: RelEntry, df: DataFrame | None = None) -> None:
        """Cardinality enforcement at language-level insert time
        (draft:36-38): `x..y` reads (entries per forward source ..
        entries per inverse source); a `1` on either side caps that
        side's fan-out at one. Symmetric members check total degree
        over both directions. Pass `df` to validate a CANDIDATE table
        before committing it. The edge always stores the FORWARD
        orientation, so a swapped (inverse-member) entry's card is
        re-inverted before checking columns."""
        card = _invert_card(rel.card) if rel.swapped else rel.card
        fwd, inv = card.split("..")
        if df is None:
            df = self.table(rel.edge)
        if rel.symmetric:
            deg = df.unionByName(
                df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            if fwd == "1" and not deg.groupBy("src").count().where(F.col("count") > 1).isEmpty():
                raise HeroQLError(f"cardinality {card} violated on {rel.edge!r}")
            return
        if fwd == "1" and not df.groupBy("src").count().where(F.col("count") > 1).isEmpty():
            raise HeroQLError(f"cardinality {card} violated on {rel.edge!r} (src side)")
        if inv == "1" and not df.groupBy("dst").count().where(F.col("count") > 1).isEmpty():
            raise HeroQLError(f"cardinality {card} violated on {rel.edge!r} (dst side)")

    def _exec_uncache(self, u: P.UncacheStmt) -> None:
        """Cached computed tables (draft:67-72, 135-136): drop the
        memoized derivation (partial predicates conservatively drop the
        whole entry) and unpersist any pinned storage."""
        self._memo.pop(u.name, None)
        df = self.tables.get(u.name)
        if df is not None:
            df.unpersist()

    def _exec_for_query(self, fq: P.ForQueryStmt) -> None:
        """`for query(x) :- body ( actions )` (draft:138-143, extended
        to the draft_type dialect: `let x = Type{...}` constructors,
        `ensure set`, `if not set … then …`, nested `for x.member(y)
        ( … )` blocks, draft_type:193-207): run the query once, apply
        each action to every result row — compiled as set-at-a-time
        DataFrame transforms, never a row loop. Actions run
        SEQUENTIALLY: each commit is visible to the next action (the
        draft's statement order)."""
        frame = self._compile_body(fq.body)
        self._exec_actions(frame, fq.actions)

    # -- for-query actions (set-at-a-time) ---------------------------------

    @staticmethod
    def _unique_cols(d: TableDef) -> list[str] | None:
        """Columns of the table's Unique index (multi-column allowed;
        dotted index columns are storage hints, not keys)."""
        for ix in d.indexes:
            if "Unique" in ix.kinds and ix.cols and all("." not in c for c in ix.cols):
                return list(ix.cols)
        return None

    @staticmethod
    def _auto_col(d: TableDef) -> str | None:
        for ix in d.indexes:
            if "AutoIncresed" in ix.kinds and ix.cols:
                return ix.cols[0]
        return None

    def _ensure_ord(self, frame: Frame) -> None:
        """Give every driving row a dense deterministic ordinal
        (`__ord` = 1..n over the row's full content) — the creation
        order fresh-id allocation and first-wins installs key on.
        Allocated once per frame via the registry's zipWithIndex-shaped
        allocator (per-partition counts + offset fold, no global
        single-partition window)."""
        if "__ord" in frame.df.columns:
            return
        from herodb_spark.sources.registry import auto_increment_ids

        df = frame.df.dropDuplicates()
        frame.df = auto_increment_ids(df, id_col="__ord", order_by=list(df.columns))

    def _exec_actions(self, frame: Frame, actions: list) -> None:
        for action in actions:
            if isinstance(action, P.SetStmt):
                self._action_set(frame, action.atom)
            elif isinstance(action, P.RemoveStmt):
                self._action_remove(frame, action)
            elif isinstance(action, P.EnsureSetAction):
                self._action_ensure_set(frame, action.atom)
            elif isinstance(action, P.LetCtorAction):
                self._action_let_ctor(frame, action)
            elif isinstance(action, P.IfNotSetAction):
                self._action_if_not_set(frame, action)
            elif isinstance(action, P.ForMemberAction):
                self._action_for_member(frame, action)
            else:
                raise HeroQLError(
                    f"unsupported for-query action {type(action).__name__}"
                )

    def _action_let_ctor(self, frame: Frame, a: P.LetCtorAction) -> None:
        """`let x = Type{ field = expr, ... }` (draft_type:193,226):
        one fresh instance per driving row. Fresh ids are
        `current_max + __ord` — the AutoIncresed allocation
        (draft_type:127-129) with zero extra shuffle, since `__ord` is
        already dense from 1. The new rows insert immediately (visible
        to subsequent actions and derefs); `x` binds as a class row
        variable whose value is the new instance's id."""
        cname = a.ctor
        d = self._def(cname)
        auto = self._auto_col(d)
        if auto is None:
            raise HeroQLError(
                f"let {a.var} = {cname}{{...}} needs `index AutoIncresed(<id>)` on "
                f"{cname} (draft_type:127) to allocate instance ids"
            )
        if frame.has(a.var):
            raise HeroQLError(f"let target {a.var!r} is already bound")
        self._ensure_ord(frame)
        self._flush(cname)
        cur = self.table(cname)
        start = (cur.agg(F.max(F.col(auto))).collect()[0][0] or 0) + 1
        frame.df = frame.df.withColumn(a.var, (F.lit(start - 1) + F.col("__ord")).cast("long"))
        frame.vars[a.var] = cname if d.is_class else None
        ctx = _ExprCtx(self, frame)
        fieldmap = {}
        for fname, expr in a.fields:
            if fname not in d.fields:
                raise HeroQLError(f"{cname} has no field {fname!r}")
            if fname == auto:
                raise HeroQLError(f"{cname}.{auto} is AutoIncresed; it cannot be assigned")
            self._force_derefs(expr, frame)
            fieldmap[fname] = self._expr(expr, ctx)
        cols = []
        for f in d.fields:
            if f == auto:
                cols.append(F.col(a.var).alias(f))
            elif f in fieldmap:
                cols.append(fieldmap[f].alias(f))
            else:
                cols.append(F.lit(None).alias(f))
        rows = frame.df.select(cols)
        self._check_where(d, rows, f"let {a.var} = {cname}{{...}}")
        self._append_rows(cname, rows, cur)

    def _atom_rows(self, frame: Frame, atom: P.Atom, tmp: bool = False):
        """Project the atom's argument expressions over the frame →
        (TableDef, projected df). With `tmp`, fields are aliased
        __f0.. so they cannot collide with frame variable names."""
        d = self._def(atom.name)
        if atom.name in self.rules:
            raise HeroQLError(f"{atom.name!r} is rule-defined; mutate base tables only")
        if len(atom.args) != len(d.fields):
            raise HeroQLError(f"{atom.name}: arity {len(atom.args)} != {len(d.fields)}")
        ctx = _ExprCtx(self, frame)
        for arg in atom.args:
            self._force_derefs(arg, frame)
        names = [f"__f{i}" for i in range(len(d.fields))] if tmp else list(d.fields)
        cols = [self._expr(arg, ctx).alias(n) for arg, n in zip(atom.args, names)]
        if tmp:
            return d, frame.df.select(*frame.df.columns, *cols)
        return d, frame.df.select(cols)

    def _action_ensure_set(self, frame: Frame, atom: P.Atom) -> None:
        """`ensure set T(args)` (draft_type:194-195,219): insert rows
        whose Unique key (whole row when no Unique index) is absent; a
        present key is fine and stays untouched — never an error."""
        if atom.member_of is not None:
            # relation-member ensure == plain member set (edge inserts
            # already dedupe + re-validate)
            self._action_set(frame, atom)
            return
        d, rows = self._atom_rows(frame, atom)
        ucols = self._unique_cols(d) or list(d.fields)
        rows = rows.dropDuplicates(ucols)
        self._check_where(d, rows, "ensure set")
        self._append_rows(atom.name, rows, anti_on=ucols)

    def _action_if_not_set(self, frame: Frame, a: P.IfNotSetAction) -> None:
        """`if not set T(args) then <actions>` (draft_type:203-205,
        320-326): first-wins conditional install against T's Unique
        index. Winners (first by driving order per key, key not yet
        present) insert; every loser row — in-batch duplicate or
        already-present key — runs the `then` actions with the same
        variable bindings (the draft's `set Errors($"...")` arm)."""
        atom = a.atom
        if atom.member_of is not None:
            raise HeroQLError("if not set applies to data tables, not relation members")
        d = self._def(atom.name)
        ucols = self._unique_cols(d)
        if ucols is None:
            raise HeroQLError(
                f"if not set needs `index Unique(...)` on {atom.name!r} "
                "(draft_type:169-172) to define the install key"
            )
        self._ensure_ord(frame)
        d, proj = self._atom_rows(frame, atom, tmp=True)
        names = {f: f"__f{i}" for i, f in enumerate(d.fields)}
        key_tmp = [names[c] for c in ucols]
        w = Window.partitionBy(*key_tmp).orderBy("__ord")
        cand = proj.withColumn("__rk", F.row_number().over(w))
        self._flush(atom.name)
        cur = self.table(atom.name)
        existing = cur.select([F.col(c).alias(names[c]) for c in ucols]).distinct()
        winners = cand.where(F.col("__rk") == 1).join(existing, key_tmp, "left_anti")
        winners = winners.localCheckpoint(eager=True)  # one eval feeds insert + loser anti-join
        rows = winners.select([F.col(names[f]).alias(f) for f in d.fields])
        self._check_where(d, rows, "if-not-set insert")
        self._append_rows(atom.name, rows, cur)
        losers = cand.join(winners.select("__ord"), "__ord", "left_anti")
        sub = Frame(self)
        sub.vars = dict(frame.vars)
        drop = [c for c in losers.columns if c.startswith("__f") or c == "__rk"]
        sub.df = losers.drop(*drop)
        self._exec_actions(sub, a.then)

    def _action_for_member(self, frame: Frame, a: P.ForMemberAction) -> None:
        """`for x.member(y) ( actions )` (draft_type:198-201): join the
        driving rows with x's relation member, bind `y` to the target,
        and run the nested actions over the expanded set. The nested
        frame allocates its own `__ord` (the expansion changes the
        driving cardinality)."""
        cls = frame.vars.get(a.base)
        if not frame.has(a.base):
            raise _Unbound(a.base)
        if cls is None:
            raise HeroQLError(f"{a.base!r} is not a class row; member blocks need one")
        rel = self.relations.get((cls, a.member))
        if rel is None:
            raise HeroQLError(f"{cls} has no relation member {a.member!r}")
        if frame.has(a.var):
            raise HeroQLError(f"for-member target {a.var!r} is already bound")
        df = self.table(rel.edge)
        if rel.symmetric:
            df = df.unionByName(
                df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct()
        elif rel.swapped:
            df = df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        edge = df.select(F.col("src").alias("__src"), F.col("dst").alias(a.var))
        tdef = self._def(rel.edge)
        ttypes = list(tdef.types or [None, None])
        target = ttypes[0] if rel.swapped else ttypes[1]
        sub = Frame(self)
        sub.vars = dict(frame.vars)
        sub.vars[a.var] = target if target in self.defs and self._def(target).is_class else None
        base_df = frame.df.drop("__ord") if "__ord" in frame.df.columns else frame.df
        sub.df = base_df.join(edge, base_df[a.base] == edge["__src"]).drop("__src")
        self._exec_actions(sub, a.actions)

    def _action_set(self, frame: Frame, atom: P.Atom) -> None:
        if atom.member_of is not None:
            base = atom.member_of.name
            cls = frame.vars.get(base)
            if cls is None:
                raise HeroQLError(f"{base!r} is not a class row")
            rel = self.relations.get((cls, atom.name))
            if rel is None:
                raise HeroQLError(f"{cls} has no relation member {atom.name!r}")
            ctx = _ExprCtx(self, frame)
            self._force_derefs(atom.args[0], frame)
            other = self._expr(atom.args[0], ctx)
            me = frame.col(base)
            src, dst = (other, me) if rel.swapped else (me, other)
            if rel.symmetric:
                # canonical (least, greatest) storage: restating
                # the symmetric fact from the other side dedups
                # instead of doubling the edge
                src, dst = F.least(src, dst), F.greatest(src, dst)
            rows = frame.df.select(src.alias("src"), dst.alias("dst")).distinct()
            # validated BEFORE committing — a violating insert must
            # not leave the bad row behind
            self._append_rows(rel.edge, rows, distinct=True, rel=rel)
            return
        d, rows = self._atom_rows(frame, atom)
        rows = rows.distinct()
        self._check_where(d, rows, "for-query set")
        self._append_rows(atom.name, rows, distinct=True)

    def _action_remove(self, frame: Frame, action: P.RemoveStmt) -> None:
        d = self._def(action.name)
        ctx = _ExprCtx(self, frame)
        pats = action.patterns or [P.Wildcard()] * len(d.fields)
        on = []
        proj = []
        for pat, f in zip(pats, d.fields):
            if isinstance(pat, P.Wildcard):
                continue
            self._force_derefs(pat, frame)
            proj.append(self._expr(pat, ctx).alias(f))
            on.append(f)
        if not on:
            raise HeroQLError("for-query remove needs at least one bound column")
        keys = frame.df.select(proj).distinct()
        self._flush(action.name)
        cur = self.table(action.name)
        self._install_table(action.name, cur.join(keys, on, "left_anti"))
        self._after_mutation(action.name)
