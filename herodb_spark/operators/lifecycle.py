"""The durable layer exercised end-to-end as ONE oracle-checkable
QUERY: a SnapshotDatabase with two member tables, three multi-table
TRANSACTIONS (each pairing a facts mutation with an audit row in one
atomic database pointer swap), database time travel through a pinned
version, and a vacuum whose surviving/dropped version sets are part
of the graded output.

The oracle is plain SQL over `nation` (plus literal rows for the
metadata legs), so a hash match proves the transactional semantics —
merge_upsert / update_where / delete_where composed THROUGH the
transaction layer, cross-table pin consistency, time travel through
the database manifest, and vacuum's keep-pinned guarantee — all
reproduce exactly what the declarative schedule says.

Reference: Rewrite.md:3-16 (queue transaction updates in parallel,
single-threaded apply, recovery), Rewrite.md:15 ("Mark or remove the
log" — vacuum), the draft's mutation statements (draft:128-138) run
durably at database scope.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.session import fixture_conf, literal_df, run_overlapped as _overlap


def snapshot_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    with fixture_conf(spark):
        return _snapshot_lifecycle_impl(spark, sf_dir)


def _snapshot_lifecycle_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transactional schedule over a fresh database:

    - create `facts` from nation (key, grp, name, val=key*10;
      partitioned by grp) and an unpartitioned `audit` log — db
      versions 1 and 2 (0 is the database create);
    - txn1 (db v3): upsert facts — keys < 10 get val+100, five fresh
      keys key+100 (val=key) — AND audit(1,'upsert'), atomically;
    - txn2 (db v4): update_where grp == 2 → val*2, AND
      audit(2,'update');
    - txn3 (db v5): delete_where key % 7 == 3, AND audit(3,'delete');
    - txn4/txn5 (db v6, v7) — the ISOLATION surface (Lock.h:29-38
      Shared at Row, since round 10): an INTERLEAVED reader/writer
      pair. The reader declares ranges={'key': (0, 9)} on facts,
      derives audit(4, 'readset_n=<count>') from that footprint, and
      holds; the writer then upserts keys 300..304 in the SAME
      partitions and commits first (v6); the reader's commit (v7)
      must be ADMITTED — the declared range vs the writer's recorded
      key hull proves the row sets disjoint. A naive whole-table read
      set would cancel it and the audit row would be missing from the
      hash. (The write-skew red case stays library-tested.)
    - vacuum(keep_last=5): db versions {3..7} survive, {0,1,2} drop,
      and every table version pinned by a survivor stays readable.

    Output legs (leg, key, grp, name, val):
    - 'cur'   — facts through the current database pin;
    - 'tt'    — facts at db_version=3 (post-txn1 state, read AFTER
                vacuum — proves keep-pinned GC);
    - 'audit' — the audit table: (seq, NULL, what, NULL);
    - 'hist'  — post-vacuum database history: (db_version, facts_pin,
                op, audit_pin) — facts/audit pins advance in lockstep
                through the three paired txns, then facts-only (v6) /
                audit-only (v7) for the interleaved pair;
    - 'vac'   — the dropped database versions: (v, NULL, 'dropped',
                NULL);
    - 'br_iso' / 'br_facts' / 'br_plans' / 'br_conflict' / 'br_hist'
      (round 12) — the data-package branch surface (Kernel/README.md
      DATA PACKAGE: instantiate-inheriting / merge-to-parent):
      copy-on-write isolation both ways, disjoint-partition overlay
      merge landing both sides plus the adopted branch-created table,
      conflict-cancel on same-partition divergence, and the pin
      history proving the cancelled merge published nothing. See the
      inline schedule comment and sources/branch.py.
    - 'bak' / 'bundle' (round 13) — the backup ring (slot capture →
      restore → read-back, sources/backup.py) and the export bundle
      ("Generate the whole data base to C++" analog,
      SnapshotDatabase.export_bundle/import_bundle): both roundtrips
      must reproduce the post-merge facts bit-identically."""
    from herodb_spark.sources.database import SnapshotDatabase

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("key"),
        F.col("n_regionkey").cast("long").alias("grp"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey") * 10).cast("long").alias("val"),
    )
    tmp = tempfile.mkdtemp(prefix="snap_lc_")
    db = SnapshotDatabase.create(spark, os.path.join(tmp, "db"))
    db.create_table("facts", nation, key_cols=["key"], partition_col="grp")
    db.create_table(
        "audit",
        literal_df(spark, [(0, "create")], "seq long, what string"),
        key_cols=["seq"],
    )

    def audit_row(seq: int, what: str) -> DataFrame:
        return literal_df(spark, [(seq, what)], "seq long, what string")

    # each paired transaction's facts and audit statements target
    # DIFFERENT member tables — run them overlapped (guide §2.6)
    with db.transaction() as t:
        ups = nation.where(F.col("key") < 10).withColumn(
            "val", F.col("val") + F.lit(100)
        )
        ins = nation.where(F.col("key") < 5).select(
            (F.col("key") + 100).alias("key"), "grp", "name",
            F.col("key").alias("val"),
        )
        _overlap(
            lambda: t.merge_upsert("facts", ups.unionByName(ins)),
            lambda: t.merge_upsert("audit", audit_row(1, "upsert")),
        )
    with db.transaction() as t:
        _overlap(
            lambda: t.update_where("facts", F.col("grp") == 2, {"val": F.col("val") * 2}),
            lambda: t.merge_upsert("audit", audit_row(2, "update")),
        )
    with db.transaction() as t:
        _overlap(
            lambda: t.delete_where("facts", F.col("key") % 7 == 3),
            lambda: t.merge_upsert("audit", audit_row(3, "delete")),
        )

    # interleaved reader/writer pair — both must commit (row-granular
    # declared read set vs the writer's recorded key hull).
    # nested context managers give the interleaving AND guaranteed
    # cleanup (heartbeats/intents released on any failure): the inner
    # writer starts after the reader's declared read and commits
    # FIRST (inner exit, db v6); the reader commits on the outer exit
    # (db v7) and must be ADMITTED.
    with db.transaction() as t_reader:
        n_seen = t_reader.read("facts", ranges={"key": (0, 9)}).count()
        t_reader.merge_upsert("audit", audit_row(4, f"readset_n={n_seen}"))
        with db.transaction() as t_writer:
            t_writer.merge_upsert(
                "facts",
                literal_df(spark, 
                    [(300 + i, 2, "iso", i) for i in range(5)],
                    "key long, grp long, name string, val long",
                ),
            )

    report = db.vacuum(keep_last=5)

    nl = F.lit(None).cast("long")
    cur = db.read("facts").select(
        F.lit("cur").alias("leg"), "key", "grp", "name", "val"
    )
    tt = db.read("facts", db_version=3).select(
        F.lit("tt").alias("leg"), "key", "grp", "name", "val"
    )
    audit = db.read("audit").select(
        F.lit("audit").alias("leg"),
        F.col("seq").alias("key"),
        nl.alias("grp"),
        F.col("what").alias("name"),
        nl.alias("val"),
    )
    # metadata legs: manifest-sized literals, not data-path collects
    hist = literal_df(spark, 
        [
            (int(e["version"]), int(e["tables"]["facts"]), str(e["op"]),
             int(e["tables"]["audit"]))
            for e in db.history()
        ],
        "key long, grp long, name string, val long",
    ).select(F.lit("hist").alias("leg"), "key", "grp", "name", "val")
    vac = literal_df(spark, 
        [(int(v),) for v in report["dropped_db_versions"]], "key long"
    ).select(
        F.lit("vac").alias("leg"), "key", nl.alias("grp"),
        F.lit("dropped").alias("name"), nl.alias("val"),
    )

    # ---- branch / merge (round 12): the reference's data-package
    # instantiate / inherit / merge (Kernel/README.md DATA PACKAGE) as
    # graded legs. The schedule is deterministic:
    # - branch 'wip' at facts pin 4 / audit pin 4 (post-vacuum state);
    # - ON THE BRANCH: +1000 to partition grp=0, three fresh rows in
    #   partition grp=4, and a branch-CREATED table `plans`;
    # - INTERLEAVED ON THE PARENT (db v8): two rows into partition
    #   grp=1 — disjoint from everything the branch rewrote;
    # - 'br_iso' reads the branch PRE-merge (checkpointed before the
    #   merge physically adopts branch storage): it must show the
    #   branch changes and NOT the parent's interleave — copy-on-write
    #   isolation in both directions is part of the hash;
    # - merge() (db v9): the disjoint-partition OVERLAY lands BOTH
    #   sides' writes and adopts `plans` — 'br_facts'/'br_plans';
    # - branch 'clash' then rewrites partition grp=1 while the parent
    #   commits to grp=1 again (db v10): merge() must CANCEL with
    #   MergeConflict (the reference's rollback-conflicted rule) and
    #   leave the parent untouched — 'br_conflict' records the
    #   cancellation, and v10's pin in 'br_hist' proves no merge
    #   version landed after it.
    from herodb_spark.sources.branch import MergeConflict

    br = db.branch("wip")
    br.update_where("facts", F.col("grp") == 0, {"val": F.col("val") + F.lit(1000)})
    br.merge_upsert(
        "facts",
        literal_df(spark, 
            [(400 + i, 4, "wip", i) for i in range(3)],
            "key long, grp long, name string, val long",
        ),
    )
    br.create_table(
        "plans",
        literal_df(spark, [(1, "draft"), (2, "final")], "pid long, txt string"),
        key_cols=["pid"],
    )
    with db.transaction() as t:
        t.merge_upsert(
            "facts",
            literal_df(spark, 
                [(500 + i, 1, "main", 2 * i) for i in range(2)],
                "key long, grp long, name string, val long",
            ),
        )
    br_iso = (
        br.read("facts")
        .select(F.lit("br_iso").alias("leg"), "key", "grp", "name", "val")
        .localCheckpoint(eager=True)  # merge moves branch storage
    )
    br.merge()
    clash = db.branch("clash")
    clash.update_where("facts", F.col("grp") == 1, {"val": F.lit(-1)})
    with db.transaction() as t:
        t.merge_upsert(
            "facts",
            literal_df(spark, 
                [(502, 1, "main2", 9)], "key long, grp long, name string, val long"
            ),
        )
    try:
        clash.merge()
        conflict_msg = "merged"  # would be a red hash row
    except MergeConflict:
        conflict_msg = "cancelled"
    db.drop_branch("clash", discard_changes=True)
    db.drop_branch("wip")  # merged: discardable without a flag

    # ---- backup ring + export bundle (round 13): the reference's
    # "Auto Backup to file group ring" and "Generate the whole data
    # base to C++" surfaces, graded. Both are MANIFEST+FILE copies (no
    # Spark jobs): the ring captures the database into slot 0 and
    # restores it to a fresh directory; export_bundle/import_bundle
    # roundtrips the DDL + current data + program log. Each restored/
    # imported database must read back EXACTLY the post-merge facts —
    # the same rows the br_facts leg pins.
    from herodb_spark.sources.backup import BackupRing

    ring = BackupRing(os.path.join(tmp, "ring"), slots=2)
    ring.backup(db)
    rdb = ring.open_restored(spark, 0, os.path.join(tmp, "restored"))
    bak = rdb.read("facts").select(
        F.lit("bak").alias("leg"), "key", "grp", "name", "val"
    )
    db.export_bundle(os.path.join(tmp, "bundle"))
    bdb = SnapshotDatabase.import_bundle(
        spark, os.path.join(tmp, "bundle"), os.path.join(tmp, "db_imported")
    )
    bun = bdb.read("facts").select(
        F.lit("bundle").alias("leg"), "key", "grp", "name", "val"
    )

    br_facts = db.read("facts").select(
        F.lit("br_facts").alias("leg"), "key", "grp", "name", "val"
    )
    br_plans = db.read("plans").select(
        F.lit("br_plans").alias("leg"),
        F.col("pid").alias("key"),
        nl.alias("grp"),
        F.col("txt").alias("name"),
        nl.alias("val"),
    )
    br_conflict = literal_df(spark, [(conflict_msg,)], "name string").select(
        F.lit("br_conflict").alias("leg"), nl.alias("key"), nl.alias("grp"),
        "name", nl.alias("val"),
    )
    br_hist = literal_df(spark, 
        [
            (int(e["version"]), int(e["tables"]["facts"]), str(e["op"]),
             int(e["tables"]["audit"]))
            for e in db.history()
            if int(e["version"]) >= 8
        ],
        "key long, grp long, name string, val long",
    ).select(F.lit("br_hist").alias("leg"), "key", "grp", "name", "val")

    return (
        cur.unionByName(tt).unionByName(audit).unionByName(hist).unionByName(vac)
        .unionByName(br_iso).unionByName(br_facts).unionByName(br_plans)
        .unionByName(br_conflict).unionByName(br_hist)
        .unionByName(bak).unionByName(bun)
        .orderBy("leg", "key", "grp")
    )


SNAPSHOT_LIFECYCLE_SQL = """
WITH f0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS key,
         CAST(n_regionkey AS BIGINT) AS grp,
         n_name AS name,
         CAST(n_nationkey * 10 AS BIGINT) AS val
  FROM nation
),
f1 AS (           -- post txn1: upsert + five inserts
  SELECT key, grp, name,
         CASE WHEN key < 10 THEN val + 100 ELSE val END AS val
  FROM f0
  UNION ALL
  SELECT key + 100, grp, name, key FROM f0 WHERE key < 5
),
f2 AS (           -- post txn2: predicate update
  SELECT key, grp, name,
         CASE WHEN grp = 2 THEN val * 2 ELSE val END AS val
  FROM f1
),
f3 AS (           -- post txn3: predicate delete
  SELECT * FROM f2 WHERE key % 7 <> 3
),
f4 AS (           -- post the interleaved writer: five iso rows
  SELECT * FROM f3
  UNION ALL
  SELECT 300 + i, 2, 'iso', i FROM generate_series(0, 4) t(i)
),
-- the reader's declared footprint at its pin (pre-writer): keys 0..9
-- present after the delete — 0,1,2,4..9 (3 was deleted) = 9 rows
rd AS (SELECT COUNT(*) AS n FROM f3 WHERE key BETWEEN 0 AND 9)
SELECT 'cur' AS leg, key, grp, name, val FROM f4
UNION ALL
SELECT 'tt', key, grp, name, val FROM f1
UNION ALL
SELECT 'audit', seq, CAST(NULL AS BIGINT), what, CAST(NULL AS BIGINT)
FROM (VALUES (CAST(0 AS BIGINT), 'create'), (1, 'upsert'),
             (2, 'update'), (3, 'delete')) a(seq, what)
UNION ALL
SELECT 'audit', 4, CAST(NULL AS BIGINT), 'readset_n=' || n,
       CAST(NULL AS BIGINT)
FROM rd
UNION ALL
-- post-vacuum history: the three paired txns pin facts/audit in
-- lockstep (3/4/5 → 1/2/3 + 1/2/3), then the interleaved writer
-- advances facts only (v6 → facts 4) and the admitted reader audit
-- only (v7 → audit 4)
SELECT 'hist', v, fpin, 'txn', apin
FROM (VALUES (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
             (4, 2, 2), (5, 3, 3), (6, 4, 3), (7, 4, 4)) h(v, fpin, apin)
UNION ALL
SELECT 'vac', v, CAST(NULL AS BIGINT), 'dropped', CAST(NULL AS BIGINT)
FROM (VALUES (CAST(0 AS BIGINT)), (1), (2)) d(v)
UNION ALL
-- branch isolation read (pre-merge): the branch sees its own writes
-- (+1000 on partition grp=0, three fresh grp=4 rows) and NOT the
-- parent's interleaved grp=1 rows
SELECT 'br_iso', key, grp, name,
       CASE WHEN grp = 0 THEN val + 1000 ELSE val END
FROM f4
UNION ALL
SELECT 'br_iso', 400 + i, 4, 'wip', i FROM generate_series(0, 2) t(i)
UNION ALL
-- post-merge facts: the disjoint-partition overlay lands BOTH the
-- branch's writes and the parent's interleaves (grp=1 rows from db v8
-- and the post-cancel v10 row)
SELECT 'br_facts', key, grp, name,
       CASE WHEN grp = 0 THEN val + 1000 ELSE val END
FROM f4
UNION ALL
SELECT 'br_facts', 400 + i, 4, 'wip', i FROM generate_series(0, 2) t(i)
UNION ALL
SELECT 'br_facts', 500 + i, 1, 'main', 2 * i FROM generate_series(0, 1) t(i)
UNION ALL
SELECT 'br_facts', 502, 1, 'main2', 9
UNION ALL
-- r13: the ring-restored database reads back EXACTLY the post-merge
-- facts (backup→restore roundtrip), and so does the exported/imported
-- bundle ("generate the whole database" analog)
SELECT t.tag, key, grp, name, val
FROM (
  SELECT key, grp, name,
         CASE WHEN grp = 0 THEN val + 1000 ELSE val END AS val
  FROM f4
  UNION ALL
  SELECT 400 + i, 4, 'wip', i FROM generate_series(0, 2) t(i)
  UNION ALL
  SELECT 500 + i, 1, 'main', 2 * i FROM generate_series(0, 1) t(i)
  UNION ALL
  SELECT 502, 1, 'main2', 9
) b CROSS JOIN (VALUES ('bak'), ('bundle')) t(tag)
UNION ALL
-- the adopted branch-created table
SELECT 'br_plans', pid, CAST(NULL AS BIGINT), txt, CAST(NULL AS BIGINT)
FROM (VALUES (CAST(1 AS BIGINT), 'draft'), (2, 'final')) p(pid, txt)
UNION ALL
-- the same-partition merge must CANCEL (conflict arbitration)
SELECT 'br_conflict', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       'cancelled', CAST(NULL AS BIGINT)
UNION ALL
-- post-branch history: parent interleave (v8), the merge pin publish
-- (v9: facts 6 + plans adopted), the post-cancel parent txn (v10) —
-- and nothing after: the cancelled merge published NO version
SELECT 'br_hist', v, fpin, op, apin
FROM (VALUES (CAST(8 AS BIGINT), CAST(5 AS BIGINT), 'txn', CAST(4 AS BIGINT)),
             (9, 6, 'merge_branch:wip', 4),
             (10, 7, 'txn', 4)) h(v, fpin, op, apin)
ORDER BY leg, key, grp
"""


def snapshot_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    with fixture_conf(spark):
        return _snapshot_maintenance_impl(spark, sf_dir)


def _snapshot_maintenance_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot table's MAINTENANCE surface as one oracle-checked
    query — the round-10 companion to snapshot_lifecycle, covering the
    library rows the transactions query doesn't: schema evolution,
    overwrite + rollback, OPTIMIZE ZORDER, and zone-map/file pruning.

    Deterministic schedule on a fresh grp-partitioned table from
    nation (key, grp, name, val):

    - v1 `add_columns({'note': string})` — METADATA-ONLY evolution;
    - v2 merge_upsert: keys < 10 note='hot' & val+100, five inserts
      key+100 (note='new', val=key); pre-evolution rows surface
      NULL note;
    - v3 overwrite: even keys only, val*100 — then `rollback(2)`:
      the overwrite is DROPPED, current back to v2's content;
    - `cluster(['key','val'], 2)` → v3 (op 'cluster'): z-order
      rewrite, content bit-identical, per-FILE zone maps recorded;
    - v4 merge_upsert: five more inserts key+200 (note='frag') —
      FRAGMENTS the touched partitions with an extra small file each
      on top of the cluster rewrite's two;
    - v5 `compact(max_files_per_partition=1)` — OPTIMIZE/bin-packing:
      every fragmented partition rewritten to one file, content
      bit-identical (the cur/prune legs read THROUGH the compacted
      files), untouched versions still time-travelable.

    Output legs (leg, key, grp, name, val, note):
    - 'cur'   — the final table: proves the rollback discarded the
                overwrite and the z-order + compact rewrites changed
                nothing;
    - 'v0'    — time travel to creation: the PRE-EVOLUTION schema has
                no note column (surfaced as NULL here), old values;
    - 'prune' — read(ranges={'key': (2, 7)}): the zone-map- and
                file-pruned scan must equal the plain predicate on
                the final state (pruning is IO-only — loses nothing
                even through the clustered, then compacted, per-file
                stats);
    - 'hist'  — (version, op) log: create, add_columns, merge_upsert,
                cluster, merge_upsert, compact, migrate — the
                overwrite version is GONE;
    - 'mig' / 'migtt' (round 13) — SCHEMA MIGRATION with a data-moving
      procedure (v6: rename/derive label, retype score = val*2, DROP
      name/val/note — SnapshotTable.migrate, the non-additive path
      add_columns refuses) and the time-travel read BACK ACROSS the
      boundary to v2's exact old-schema content."""
    from herodb_spark.sources.snapshot import SnapshotTable

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("key"),
        F.col("n_regionkey").cast("long").alias("grp"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey") * 10).cast("long").alias("val"),
    )
    tmp = tempfile.mkdtemp(prefix="snap_mnt_")
    t = SnapshotTable.create(
        spark, os.path.join(tmp, "t"), nation, key_cols=["key"], partition_col="grp"
    )
    t.add_columns({"note": "string"})                                   # v1
    ups = nation.where(F.col("key") < 10).select(
        "key", "grp", "name", (F.col("val") + 100).alias("val"),
        F.lit("hot").alias("note"),
    )
    ins = nation.where(F.col("key") < 5).select(
        (F.col("key") + 100).alias("key"), "grp", "name",
        F.col("key").alias("val"), F.lit("new").alias("note"),
    )
    t.merge_upsert(ups.unionByName(ins))                                # v2
    t.overwrite(                                                        # v3 (doomed)
        t.read().where(F.col("key") % 2 == 0).withColumn(
            "val", F.col("val") * 100
        )
    )
    t.rollback(2)                                                       # v3 dropped
    t.cluster(["key", "val"], files_per_partition=2)                    # v3 (cluster)
    frag = nation.where(F.col("key") < 5).select(
        (F.col("key") + 200).alias("key"), "grp", "name",
        (F.col("key") + 1000).alias("val"), F.lit("frag").alias("note"),
    )
    t.merge_upsert(frag)                                                # v4 (fragments)
    t.compact(max_files_per_partition=1)                                # v5 (compact)
    # v6 — SCHEMA MIGRATION with a data-moving procedure
    # (Kernel/README.md ADMINISTRATION "Upload a new data package
    # definition with data moving procedures"): rename/derive (label),
    # retype/compute (score = val*2), DROP name/val/note — the
    # non-additive path add_columns refuses, committed as one rewrite
    # with the program text in the log. The 'mig' leg hashes the
    # post-migration state; 'migtt' time-travels BACK ACROSS the
    # boundary to v2's exact old-schema content.
    t.migrate(
        {
            "key": "key",
            "grp": "grp",
            "label": "CONCAT(name, '#', CAST(val AS STRING))",
            "score": "val * 2",
        },
        program="update schema t (key = key, grp = grp, "
                "label = ..., score = val * 2);",
    )

    ns = F.lit(None).cast("string")
    cur = t.read(version=5).select(
        F.lit("cur").alias("leg"), "key", "grp", "name", "val", "note"
    )
    v0 = t.read(version=0).select(
        F.lit("v0").alias("leg"), "key", "grp", "name", "val", ns.alias("note")
    )
    prune = t.read(version=5, ranges={"key": (2, 7)}).where(
        F.col("key").between(2, 7)
    ).select(F.lit("prune").alias("leg"), "key", "grp", "name", "val", "note")
    mig = t.read().select(
        F.lit("mig").alias("leg"), "key", "grp",
        F.col("label").alias("name"), F.col("score").alias("val"), ns.alias("note"),
    )
    migtt = t.read(version=2).select(
        F.lit("migtt").alias("leg"), "key", "grp", "name", "val", "note"
    )
    m = t._load()
    hist = literal_df(spark, 
        [(int(v), str(e["op"])) for v, e in sorted(
            m["versions"].items(), key=lambda kv: int(kv[0])
        )],
        "key long, name string",
    ).select(
        F.lit("hist").alias("leg"), "key", F.lit(None).cast("long").alias("grp"),
        "name", F.lit(None).cast("long").alias("val"), ns.alias("note"),
    )
    return (
        cur.unionByName(v0).unionByName(prune).unionByName(mig)
        .unionByName(migtt).unionByName(hist)
        .orderBy("leg", "key", "grp")
    )


SNAPSHOT_MAINTENANCE_SQL = """
WITH f0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS key,
         CAST(n_regionkey AS BIGINT) AS grp,
         n_name AS name,
         CAST(n_nationkey * 10 AS BIGINT) AS val
  FROM nation
),
f2a AS (          -- v2 content: first merge (hot updates + new inserts)
  SELECT key, grp, name,
         CASE WHEN key < 10 THEN val + 100 ELSE val END AS val,
         CASE WHEN key < 10 THEN 'hot' ELSE CAST(NULL AS VARCHAR) END AS note
  FROM f0
  UNION ALL
  SELECT key + 100, grp, name, key, 'new' FROM f0 WHERE key < 5
),
f2 AS (           -- post-frag state (the overwrite was rolled back;
                  -- cluster and compact are pure reorders/rewrites)
  SELECT * FROM f2a
  UNION ALL
  SELECT key + 200, grp, name, key + 1000, 'frag' FROM f0 WHERE key < 5
)
SELECT 'cur' AS leg, key, grp, name, val, note FROM f2
UNION ALL
SELECT 'v0', key, grp, name, val, CAST(NULL AS VARCHAR) FROM f0
UNION ALL
SELECT 'prune', key, grp, name, val, note FROM f2 WHERE key BETWEEN 2 AND 7
UNION ALL
-- post-migration state: label = name#val, score = val*2, old columns gone
SELECT 'mig', key, grp, name || '#' || CAST(val AS VARCHAR), val * 2,
       CAST(NULL AS VARCHAR)
FROM f2
UNION ALL
-- time travel BACK ACROSS the migration boundary: v2's exact content
-- at its old schema
SELECT 'migtt', key, grp, name, val, note FROM f2a
UNION ALL
SELECT 'hist', v, CAST(NULL AS BIGINT), op, CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR)
FROM (VALUES (CAST(0 AS BIGINT), 'create'), (1, 'add_columns'),
             (2, 'merge_upsert'), (3, 'cluster'),
             (4, 'merge_upsert'), (5, 'compact'), (6, 'migrate')) h(v, op)
ORDER BY leg, key, grp
"""


def db_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    with fixture_conf(spark):
        return _db_branch_merge_impl(spark, sf_dir)


def _db_branch_merge_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDALONE branch/merge surface (the graded copy rides
    snapshot_lifecycle's br_* legs; this entry keeps the operator
    directly visible per the union-fold convention) — the reference's
    data-package instantiate / inherit / merge / discard
    (Kernel/README.md "DATA PACKAGE", HIGH-LEVEL FEATURES bullets 8-14)
    on sources/branch.py.

    Deterministic schedule on a fresh database holding `facts` from
    nation (key, grp, name, val = key*10; partitioned by grp):
    - branch 'wip' (O(1), zero copy), which updates partition grp=0
      (val+1000), inserts three rows into partition grp=4, and CREATES
      `plans`;
    - parent interleaves two rows into partition grp=1 (db v2);
    - 'iso' leg: the pre-merge branch read — branch changes visible,
      parent interleave invisible (copy-on-write isolation);
    - merge (db v3): disjoint-partition overlay lands both sides +
      adopts plans;
    - branch 'clash' rewrites grp=1 while the parent commits to grp=1
      (db v4) → merge CANCELS (MergeConflict), parent untouched;
    - legs: iso / final / plans / conflict / hist (db version, facts
      pin, op — proving the cancelled merge published no version)."""
    from herodb_spark.sources.branch import MergeConflict
    from herodb_spark.sources.database import SnapshotDatabase

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("key"),
        F.col("n_regionkey").cast("long").alias("grp"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey") * 10).cast("long").alias("val"),
    )
    tmp = tempfile.mkdtemp(prefix="snap_br_")
    db = SnapshotDatabase.create(spark, os.path.join(tmp, "db"))
    db.create_table("facts", nation, key_cols=["key"], partition_col="grp")

    br = db.branch("wip")
    br.update_where("facts", F.col("grp") == 0, {"val": F.col("val") + F.lit(1000)})
    br.merge_upsert(
        "facts",
        literal_df(spark, 
            [(400 + i, 4, "wip", i) for i in range(3)],
            "key long, grp long, name string, val long",
        ),
    )
    br.create_table(
        "plans",
        literal_df(spark, [(1, "draft"), (2, "final")], "pid long, txt string"),
        key_cols=["pid"],
    )
    with db.transaction() as t:
        t.merge_upsert(
            "facts",
            literal_df(spark, 
                [(500 + i, 1, "main", 2 * i) for i in range(2)],
                "key long, grp long, name string, val long",
            ),
        )
    iso = (
        br.read("facts")
        .select(F.lit("iso").alias("leg"), "key", "grp", "name", "val")
        .localCheckpoint(eager=True)
    )
    br.merge()
    clash = db.branch("clash")
    clash.update_where("facts", F.col("grp") == 1, {"val": F.lit(-1)})
    with db.transaction() as t:
        t.merge_upsert(
            "facts",
            literal_df(spark, 
                [(502, 1, "main2", 9)], "key long, grp long, name string, val long"
            ),
        )
    try:
        clash.merge()
        conflict_msg = "merged"
    except MergeConflict:
        conflict_msg = "cancelled"
    db.drop_branch("clash", discard_changes=True)
    db.drop_branch("wip")

    nl = F.lit(None).cast("long")
    final = db.read("facts").select(
        F.lit("final").alias("leg"), "key", "grp", "name", "val"
    )
    plans = db.read("plans").select(
        F.lit("plans").alias("leg"), F.col("pid").alias("key"), nl.alias("grp"),
        F.col("txt").alias("name"), nl.alias("val"),
    )
    conflict = literal_df(spark, [(conflict_msg,)], "name string").select(
        F.lit("conflict").alias("leg"), nl.alias("key"), nl.alias("grp"),
        "name", nl.alias("val"),
    )
    hist = literal_df(spark, 
        [
            (
                int(e["version"]),
                int(e["tables"]["facts"]) if "facts" in e["tables"] else None,
                str(e["op"]),
            )
            for e in db.history()
        ],
        "key long, grp long, name string",
    ).select(F.lit("hist").alias("leg"), "key", "grp", "name", nl.alias("val"))
    return (
        iso.unionByName(final).unionByName(plans).unionByName(conflict)
        .unionByName(hist).orderBy("leg", "key", "grp")
    )


DB_BRANCH_MERGE_SQL = """
WITH f0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS key,
         CAST(n_regionkey AS BIGINT) AS grp,
         n_name AS name,
         CAST(n_nationkey * 10 AS BIGINT) AS val
  FROM nation
)
SELECT 'iso' AS leg, key, grp, name,
       CASE WHEN grp = 0 THEN val + 1000 ELSE val END AS val
FROM f0
UNION ALL
SELECT 'iso', 400 + i, 4, 'wip', i FROM generate_series(0, 2) t(i)
UNION ALL
SELECT 'final', key, grp, name,
       CASE WHEN grp = 0 THEN val + 1000 ELSE val END
FROM f0
UNION ALL
SELECT 'final', 400 + i, 4, 'wip', i FROM generate_series(0, 2) t(i)
UNION ALL
SELECT 'final', 500 + i, 1, 'main', 2 * i FROM generate_series(0, 1) t(i)
UNION ALL
SELECT 'final', 502, 1, 'main2', 9
UNION ALL
SELECT 'plans', pid, CAST(NULL AS BIGINT), txt, CAST(NULL AS BIGINT)
FROM (VALUES (CAST(1 AS BIGINT), 'draft'), (2, 'final')) p(pid, txt)
UNION ALL
SELECT 'conflict', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       'cancelled', CAST(NULL AS BIGINT)
UNION ALL
-- db versions: create(0), create_table(1), parent txn(2), merge(3),
-- post-cancel parent txn(4) — and NOTHING after v4: the cancelled
-- merge published no version
SELECT 'hist', v, fpin, op, CAST(NULL AS BIGINT)
FROM (VALUES (CAST(0 AS BIGINT), CAST(NULL AS BIGINT), 'create'),
             (1, CAST(0 AS BIGINT), 'create_table:facts'),
             (2, 1, 'txn'),
             (3, 2, 'merge_branch:wip'),
             (4, 3, 'txn')) h(v, fpin, op)
ORDER BY leg, key, grp
"""
