"""Multi-table atomic transactions over snapshot tables — the
database scope of the reference's durability design (Rewrite.md:3-16:
queue transaction updates in parallel, single-threaded apply, conflict
cancellation, "recovering when the database is shutdown at any
timing"). The reference plans MVCC over paged files; the lakehouse
re-expression is a MANIFEST-OF-MANIFESTS:

- A `SnapshotDatabase` is a directory of member `SnapshotTable`s plus
  one database manifest whose versions each pin an exact
  {table name -> table version} set. READERS RESOLVE THROUGH THE PIN,
  never through a member table's own `current` pointer.
- A transaction applies its mutations eagerly to the member tables
  (each one a normal OCC copy-on-write table commit — the
  "parallel queueing" half), then publishes ALL of them with ONE
  atomic database-manifest swap (the "single-threaded apply" half).
  A crash after table A's commit but before the database swap leaves
  every reader on the previous pin set: table A's orphaned version is
  invisible, cross-table consistency holds.
- Recovery (`recover()`, run automatically when a new transaction
  starts) rolls any member table whose `current` ran ahead of the
  database pin back to the pin — discarding half-applied transaction
  leftovers — and bumps the database commit seq so a still-live
  writer from before recovery can never publish (its pointer swap
  fences out on seq, mirroring the reference's conflict-cancel rule).
- Database-level OCC with COST ARBITRATION (Rewrite.md:9-13) at
  PARTITION GRANULARITY (the lakehouse analog of the reference's
  Table/Page/Row lock targets, Lock.h:22-29): the pointer swap
  validates the database seq read at transaction start; each
  transaction carries a cost (partitions rewritten) recorded in the
  version it publishes and advertised live in a heartbeated commit-
  intent file. A swap lost to a DISJOINT-table commit rebases and
  retries (bounded backoff) instead of cancelling; a same-table race
  against PUBLISHED commits re-executes on top and keeps the result
  iff the two sides rewrote disjoint partition sets (proved from the
  manifests' per-version rewrite lists — two pipelines upserting
  different partitions of one fact table both land); a same-table
  race against a live holder's UNPUBLISHED versions arbitrates on
  cost — the highest-cost side proceeds, rolling the cheaper holders
  back ("submit the transaction of highest cost, rollback all
  conflicted"), while the cheaper side defers until the winner
  publishes. Below the partition level, recorded per-commit
  update-key hulls (merge_upsert AND the predicate mutations
  update_where/delete_where) exonerate same-partition interleaves
  whose key sets provably don't intersect (Lock.h:22-27 Row), and
  declared range reads are checked row-granularly against those
  hulls plus phantom-safely against post-commit zone maps
  (Lock.h:29-38 Shared at Row + next-key; _read_set_conflicts).
  Remaining conflicts (overlapping keys/partitions, schema changes,
  whole-table reads) cancel with ConcurrentWriteError reporting both
  costs, and abandoned table versions are healed by the next
  recovery.
- Database time travel: `read(name, db_version=k)` resolves table
  versions through database version k; `vacuum()` prunes old database
  versions and passes every still-pinned table version as
  `also_keep`, so table GC can never break a readable database
  version.

The commit critical section is inherited from SnapshotTable (same
lock-file OCC protocol, different manifest file), not re-implemented.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.sources.snapshot import (
    ConcurrentWriteError,
    SnapshotTable,
    _enc_stat,
)

_DB_MANIFEST = "_db_manifest.json"
_INTENT_DIR = "_intents"


def _rewritten_partitions(tm: dict, v: int) -> set | None:
    """Partition values table version `v` physically rewrote relative
    to its parent `v-1`: partitions whose directory carries v's
    version prefix (copy-on-write rewrites land under data/v=<v>-*),
    plus partitions the commit dropped entirely. Returns None for
    UNKNOWN — the parent entry was vacuumed, or the commit changed the
    table SCHEMA (create/add_columns record one), which affects every
    partition. This is the sub-table conflict granularity of the
    reference's lock targets (Lock.h:22-29 Table/Page/Row): the
    manifest already proves which partitions each commit touched, so
    disjoint-partition writers need not conflict."""
    e = tm["versions"].get(str(v))
    prev = tm["versions"].get(str(v - 1))
    if e is None or prev is None or "schema" in e:
        return None
    pref = f"data/v={v}-"
    rew = {pv for pv, rel in e["partitions"].items() if rel.startswith(pref)}
    rew |= set(prev["partitions"]) - set(e["partitions"])
    return rew


def _foreign_descriptors(tm: dict, lo: int, hi: int) -> list[dict] | None:
    """PER-VERSION rewrite descriptors for table versions in (lo, hi]:
    {"parts": <rewritten partition set>, "key_ranges": <the version's
    per-partition update-key [min, max] hulls, or None for ops that
    record none>, "stats": <the version's POST-COMMIT per-partition
    zone maps>, "live": <partitions the version still contains>}.
    None when any constituent version's rewrites are unknown
    (vacuumed parent / schema change). Per-version — not the union
    a `set().union(...)` over versions would give — because key-level conflict
    exoneration must compare OUR keys against EACH interleaved
    commit's keys, not against a merged hull that could manufacture
    overlap two individually-disjoint commits never had. The
    stats/live fields serve the read-side PHANTOM check
    (_read_set_conflicts): a declared range read must re-test
    partitions it did NOT resolve against each interleaver's
    post-commit zone maps."""
    out: list[dict] = []
    for v in range(lo + 1, hi + 1):
        parts = _rewritten_partitions(tm, v)
        if parts is None:
            return None
        e = tm["versions"].get(str(v)) or {}
        out.append(
            {
                "parts": parts,
                "key_ranges": e.get("key_ranges"),
                "stats": e.get("stats", {}),
                "live": set(e.get("partitions", {})),
            }
        )
    return out


def _keys_disjoint(a: dict | None, b: dict | None, pv: str) -> bool:
    """True when two commits' recorded key hulls PROVE they upserted
    disjoint key sets within partition `pv` — the Row granularity of
    the reference's lock targets (Lock.h:22-27 Table/Page/Row). Both
    sides must have recorded a hull for `pv` (only merge_upsert does;
    predicate rewrites, overwrites and schema ops record none) and
    some shared key column's [min, max] intervals must not intersect.
    Anything unknown or incomparable returns False — the caller then
    falls back to the partition-granular cancel, so this check can
    only ADMIT provably-safe interleaves, never excuse a real clash."""
    ra = (a or {}).get(pv)
    rb = (b or {}).get(pv)
    if not ra or not rb:
        return False
    for c, bounds in ra.items():
        if c not in rb:
            continue
        amn, amx = bounds
        bmn, bmx = rb[c]
        if amn is None or amx is None or bmn is None or bmx is None:
            continue
        try:
            if amx < bmn or bmx < amn:
                return True
        except TypeError:
            continue  # incomparable stats prove nothing
    return False


def _hull_avoids_ranges(hull: dict | None, ranges: dict) -> bool:
    """True when a commit's recorded update-key hull for ONE partition
    proves it wrote/removed no row inside the declared `ranges`
    ({col: (lo, hi)} inclusive): some column appears in both and the
    intervals don't intersect. A hull bound of None (all-NULL keys)
    proves nothing here only if the other bound is also unknown —
    conservatively, any None bound returns False for that column.
    Anything unknown or incomparable → False: like _keys_disjoint,
    this check can only ADMIT provably-safe interleaves. date/datetime
    bounds are encoded to the manifest's fixed-width ISO form
    (snapshot._enc_stat) so declared ranges on date/timestamp keys
    compare same-type against recorded hulls."""
    if not hull:
        return False
    for c, (lo, hi) in ranges.items():
        lo, hi = _enc_stat(lo), _enc_stat(hi)
        b = hull.get(c)
        if not b:
            continue
        mn, mx = b
        if mn is None or mx is None:
            continue
        try:
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                return True
        except TypeError:
            continue  # incomparable bound proves nothing
    return False


def _read_set_conflicts(read_set, descs: list[dict] | None) -> list:
    """Partitions proving an interleaved commit could have changed
    what one table's declared read set resolved — the Shared-lock /
    predicate-lock check (Lock.h:29-38) including its NEXT-KEY
    (phantom) half. Empty list = every interleave is provably safe.

    `read_set`: None for a whole-table read (conflicts with ANY
    interleave), else a list of read descriptors
    {"ranges": {col: (lo, hi)} | None, "parts": set} — `ranges` is
    the declared predicate, `parts` the partitions it resolved at the
    transaction's pin. `descs`: per-version foreign descriptors from
    `_foreign_descriptors`, or None for unknown (always a conflict).

    Per interleaved commit and rewritten partition pv:
    - pv INSIDE the resolved set: conflict unless the commit's
      recorded key hull for pv provably avoids the declared ranges
      (Row-granular: a reader of keys [1..10] and a writer of keys
      [100..110] in the same partition both proceed).
    - pv OUTSIDE the resolved set, predicate declared: the PHANTOM
      cases — the commit may have CREATED pv with matching rows, or
      rewritten a previously zone-map-skipped pv so its rows now
      match. Safe when pv holds no rows post-commit (dropped:
      deleting rows that provably didn't match the predicate can't
      change the read; a create-then-drop interleave is caught at the
      creating version), when the commit's recorded key hull for pv
      provably avoids the ranges (rows NOT written were zone-map-
      proven non-matching at the pin — outside the resolved set means
      skipped — and earlier interleaved writes get their own
      per-version check), or when its POST-COMMIT zone maps prove no
      row can match the declared ranges (the hull-less fallback:
      overwrite/compact record no hulls, and a merge into a partition
      whose pre-existing keys straddle the range widens the zone map
      past it even when the written keys are all outside).
    - pv OUTSIDE a caller-ASSERTED partition set (declare_read with
      parts and no ranges): safe by that API's documented contract —
      the caller vouches its logic depends on those partitions only.
    """
    if read_set is None:
        return ["(whole table)"]
    if descs is None:
        return ["(unknown)"]
    bad: set = set()
    for d in read_set:
        ranges, parts = d["ranges"], d["parts"]
        for fc in descs:
            for pv in fc["parts"]:
                if pv in parts:
                    if ranges and _hull_avoids_ranges(
                        (fc["key_ranges"] or {}).get(pv), ranges
                    ):
                        continue
                    bad.add(pv)
                elif ranges is not None:
                    if pv not in fc["live"]:
                        continue  # dropped: holds no rows post-commit
                    if _hull_avoids_ranges(
                        (fc["key_ranges"] or {}).get(pv), ranges
                    ):
                        continue  # this commit wrote only non-matching keys
                    st = (fc["stats"] or {}).get(pv)
                    if st is not None and SnapshotTable._skippable(st, ranges):
                        continue  # provably outside the predicate
                    bad.add(pv)
    return sorted(bad, key=str)


class _DbManifest(SnapshotTable):
    """Reuses SnapshotTable's atomic-replace + lock-file OCC commit
    verbatim for the database manifest; no data-path methods are used."""

    _manifest_name = _DB_MANIFEST


class SnapshotDatabase:
    #: age after which a hidden tables/.stage-* or .trash-* directory is
    #: presumed a crash orphan and reclaimable by vacuum(). Generous on
    #: purpose: a live create_table may legitimately spend a long time
    #: writing its staged data before publishing.
    STAGE_ORPHAN_GRACE_S = 24 * 3600

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._mf = _DbManifest(spark, path)

    # -- manifest ----------------------------------------------------------
    def _load(self) -> dict:
        return self._mf._load()

    @classmethod
    def create(cls, spark: SparkSession, path: str) -> "SnapshotDatabase":
        db = cls(spark, path)
        # creating over a live database would silently reset its pin
        # history (member data dirs survive but become unreachable
        # through pins) — refuse; open with SnapshotDatabase(spark,
        # path) instead
        if os.path.exists(db._mf._manifest_path()):
            raise ValueError(f"{path}: database already exists (open it instead of create)")
        os.makedirs(os.path.join(path, "tables"), exist_ok=True)
        db._mf._commit(
            {"current": 0, "versions": {"0": {"op": "create", "tables": {}}}}
        )
        return db

    def _table_path(self, name: str) -> str:
        if "/" in name or name.startswith("_") or name.startswith("."):
            raise ValueError(f"invalid table name {name!r}")
        return os.path.join(self.path, "tables", name)

    def table(self, name: str) -> SnapshotTable:
        """Raw member-table handle. For consistent reads use `read()`,
        which resolves through the database pin."""
        return SnapshotTable(self.spark, self._table_path(name))

    def _pins(self, m: dict, db_version: int | None = None) -> dict:
        v = m["current"] if db_version is None else db_version
        entry = m["versions"].get(str(v))
        if entry is None:
            raise ValueError(
                f"{self.path}: no database version {v}"
                + (" (vacuumed)" if v < m["current"] else "")
            )
        return entry["tables"]

    # -- reads -------------------------------------------------------------
    def tables(self, db_version: int | None = None) -> dict:
        return dict(self._pins(self._load(), db_version))

    def read(
        self, name: str, db_version: int | None = None, ranges: dict | None = None
    ) -> DataFrame:
        """Snapshot-consistent read: the table version is the one the
        (current or time-traveled) database version pins — a
        half-applied transaction's table commits are never visible.
        `ranges` forwards to SnapshotTable.read's zone-map skipping."""
        pins = self._pins(self._load(), db_version)
        if name not in pins:
            raise ValueError(f"{self.path}: no table {name!r} in database version")
        return self.table(name).read(version=pins[name], ranges=ranges)

    def history(self) -> list[dict]:
        m = self._load()
        return [
            {"version": int(v), "op": e["op"], "tables": dict(e["tables"])}
            for v, e in sorted(m["versions"].items(), key=lambda kv: int(kv[0]))
        ]

    # -- DDL (its own single-table atomic commit) ---------------------------
    def create_table(
        self,
        name: str,
        df: DataFrame,
        key_cols: list[str],
        partition_col: str | None = None,
    ) -> SnapshotTable:
        m = self._load()
        read_version, read_seq = m["current"], self._mf._seq(m)
        if name in self._pins(m):
            raise ValueError(f"{self.path}: table {name!r} already exists")
        if os.path.exists(self._table_path(name)):
            # a dropped table's directory survives so pre-drop database
            # versions still resolve; re-using the name needs vacuum()
            # to reclaim it first (the free-page-reuse contract,
            # TestUtility_Buffer.cpp:110 — freed storage is reusable
            # once nothing references it)
            raise ValueError(
                f"{self.path}: table directory {name!r} still held by "
                "historical database versions — vacuum() before re-creating"
            )
        # STAGE the table data under a hidden name (never a vacuum-sweep
        # candidate: _table_path rejects leading dots, and the sweep
        # age-gates dotted dirs), then PUBLISH the final-name rename
        # inside _commit's critical section together with the manifest
        # pin. That makes {name-free check, directory publish, pin
        # install} one atomic unit under the same lock the vacuum
        # reclaim sweep holds — a sweep can no longer rmtree a
        # just-created directory its pre-create manifest snapshot
        # didn't show as live (the sweep-vs-create TOCTOU).
        final = self._table_path(name)
        stage = os.path.join(self.path, "tables", f".stage-{uuid.uuid4().hex[:8]}")
        t = SnapshotTable.create(self.spark, stage, df, key_cols, partition_col)
        pins = dict(self._pins(m))
        pins[name] = 0
        version = m["current"] + 1
        m["versions"][str(version)] = {"op": f"create_table:{name}", "tables": pins}
        m["current"] = version

        def _publish():
            if os.path.exists(final):
                # re-checked under the lock: a dropped table's directory
                # can reappear as "held" only via time-travel history we
                # already checked, but a racing create of the same name
                # is fenced here
                raise ValueError(
                    f"{self.path}: table directory {name!r} still held — "
                    "vacuum() before re-creating"
                )
            os.rename(stage, final)

        try:
            self._mf._commit(m, expected_current=read_version,
                             expected_seq=read_seq, pre_install=_publish)
        except BaseException:
            # aborted commit: drop the staged directory (nothing
            # references it); if _publish already renamed it, the
            # rmtree is a no-op (ENOENT ignored)
            shutil.rmtree(stage, ignore_errors=True)
            raise
        return SnapshotTable(self.spark, final)

    def drop_table(self, name: str) -> None:
        """DROP TABLE: publish a database version whose pin set omits
        `name` (the logical unregister — TestUtility_Buffer.cpp:28
        UnloadSource). The member table's directory and version
        history stay on disk so database TIME TRAVEL to pre-drop
        versions still resolves; vacuum() physically reclaims the
        directory once no kept database version pins the table, after
        which create_table() may reuse the name (the reference's
        free-page-reuse contract, TestUtility_Buffer.cpp:110)."""
        m = self._load()
        read_version, read_seq = m["current"], self._mf._seq(m)
        pins = dict(self._pins(m))
        if name not in pins:
            raise ValueError(f"{self.path}: no table {name!r} in database version")
        del pins[name]
        version = m["current"] + 1
        m["versions"][str(version)] = {"op": f"drop_table:{name}", "tables": pins}
        m["current"] = version
        self._mf._commit(m, expected_current=read_version, expected_seq=read_seq)

    # -- commit intents ------------------------------------------------------
    def _intent_dir(self) -> str:
        return os.path.join(self.path, _INTENT_DIR)

    def _live_intents(self, grace: float, exclude: str | None = None) -> dict:
        """Commit-intent files of transactions presumed LIVE: mtime
        within `grace` seconds (the holder's background heartbeat
        refreshes it). Returns {txn_id: intent dict}. Unreadable /
        half-written files are skipped (intents are written by atomic
        replace, so this is belt-and-braces)."""
        d = self._intent_dir()
        out: dict[str, dict] = {}
        try:
            names = os.listdir(d)
        except OSError:
            return out
        now = time.time()
        for fn in names:
            if not fn.endswith(".json"):
                continue
            tid = fn[:-5]
            if tid == exclude:
                continue
            p = os.path.join(d, fn)
            try:
                if now - os.path.getmtime(p) > grace:
                    continue
                with open(p) as f:
                    out[tid] = json.load(f)
            except (OSError, ValueError):
                continue
        return out

    def _sweep_intents(self, stale_after: float | None) -> None:
        """Remove intent files — all of them (explicit, unconditional
        recovery) or only those older than `stale_after` (crash
        leftovers; a live holder's heartbeat keeps its file young)."""
        d = self._intent_dir()
        try:
            names = os.listdir(d)
        except OSError:
            return
        now = time.time()
        for fn in names:
            p = os.path.join(d, fn)
            try:
                if stale_after is None or now - os.path.getmtime(p) > stale_after:
                    os.unlink(p)
            except OSError:
                pass

    def _heal_table(self, name: str, to_pin: int) -> None:
        """Arbitration heal: discard a member table's private (never
        published) versions by rolling it back to the published pin,
        then bump the database seq with a content-identical commit so
        the rolled-back holder's eventual pointer swap FENCES OUT —
        the physical form of the reference's "rollback all conflicted
        transactions" (Rewrite.md:11-13). Losing either OCC commit to
        a race is fine: the loop that calls this re-evaluates, and any
        interleaved db commit bumped seq anyway (fence achieved)."""
        try:
            self.table(name).rollback(to_pin)
        except ConcurrentWriteError:
            return
        m = self._load()
        try:
            self._mf._commit(
                m, expected_current=m["current"], expected_seq=self._mf._seq(m)
            )
        except ConcurrentWriteError:
            pass

    # -- recovery ----------------------------------------------------------
    def recover(self, stale_after: float | None = None) -> dict:
        """Discard member-table commits that never made it into a
        database version: roll every table whose `current` is ahead of
        the current pin back to the pin. When anything was healed (or
        a table manifest is simply ahead), bump the database seq so a
        transaction that started before recovery can no longer publish.

        `stale_after` (seconds) distinguishes CRASH LEFTOVERS from
        LIVE IN-FLIGHT TRANSACTIONS: a diverged table is treated as an
        active writer's private version and left alone when EITHER a
        live commit intent claims it (the holder's background
        heartbeat keeps the intent file young — covers single
        statements that run longer than the grace window) OR the
        table manifest itself was written within the window (writers
        without intents). Explicit recovery (no argument) heals
        unconditionally and sweeps all intent files;
        Transaction.__enter__ passes a grace window so overlapping
        writers no longer cancel each other at start (the round-6
        livelock note) — a table that stays diverged past the window
        with no live intent is, by definition, a crash.
        Returns {table: rolled_back_from_version}."""
        import time as _time

        m = self._load()
        read_version, read_seq = m["current"], self._mf._seq(m)
        pins = self._pins(m)
        claimed: set[str] = set()
        if stale_after is not None:
            for it in self._live_intents(stale_after).values():
                claimed |= set(it.get("tables", {}))
        healed: dict[str, int] = {}
        for name, pinned in pins.items():
            t = self.table(name)
            tm = t._load()
            if tm["current"] > pinned:
                if stale_after is not None:
                    if name in claimed:
                        continue  # a live transaction claims it — skip
                    try:
                        age = _time.time() - os.path.getmtime(t._manifest_path())
                    except OSError:
                        age = float("inf")
                    if age <= stale_after:
                        continue  # plausibly a live writer — skip
                healed[name] = tm["current"]
                t.rollback(pinned)
        self._sweep_intents(stale_after)
        if healed:
            # content-identical manifest; the commit exists only to
            # bump seq and fence out pre-recovery writers
            self._mf._commit(m, expected_current=read_version, expected_seq=read_seq)
        return healed

    # -- transactions ------------------------------------------------------
    def transaction(
        self,
        txn: tuple[str, int] | None = None,
        isolation: str = "write_serializable",
    ) -> "Transaction":
        """`txn=(sink_id, batch_id)` stamps the commit with a
        streaming watermark IN the atomic pointer swap — the database-
        scope analog of SnapshotTable.merge_upsert's txn parameter,
        used by streaming/sink.DatabaseTxnSink for exactly-once
        multi-table micro-batch writes. See Transaction for the
        `isolation` levels (write_serializable default ↔ rebase
        arbitration; serializable ↔ cancel on any interleave)."""
        return Transaction(self, txn=txn, isolation=isolation)

    def last_txn(self, sink_id: str) -> int:
        """Highest batch id committed by `sink_id` at database scope,
        or -1. Lives in the database manifest, so it advances in the
        same atomic swap that publishes the batch's table versions."""
        return int(self._load().get("txns", {}).get(sink_id, -1))

    # -- maintenance -------------------------------------------------------
    def compact(
        self, names: list[str] | None = None, max_files_per_partition: int = 4
    ) -> dict:
        """Database-scope small-file compaction: compact fragmented
        member tables AND publish the compacted versions in one
        transaction (pin swap). This is the only correct shape under a
        database — a bare table-level compact() commits a version the
        database pin never references, so readers keep resolving the
        fragmented version and the next recovery rolls the compacted
        one back as a crash leftover. Content is bit-identical, so the
        published db version changes no query result. Returns
        {table: compact report} for the touched tables."""
        reports: dict[str, dict] = {}
        with self.transaction() as t:
            for name in names if names is not None else sorted(self.tables()):
                rep = t.compact(name, max_files_per_partition=max_files_per_partition)
                if rep["compacted"]:
                    reports[name] = rep
        return reports

    def cluster(
        self, name: str, cluster_by: list[str], files_per_partition: int = 4
    ) -> dict:
        """Database-scope OPTIMIZE ZORDER of one member table,
        published through the pin swap (same reasoning as compact():
        a bare table-level cluster() commits a version the database
        pin never references). Content is a pure reorder, so the
        published version changes no query result — only the file
        layout and the per-file zone maps."""
        with self.transaction() as t:
            return t.cluster(name, cluster_by, files_per_partition=files_per_partition)

    # -- branches (data-package instantiate / inherit / merge) --------------
    def _branches_dir(self) -> str:
        return os.path.join(self.path, "branches")

    def branch(self, name: str):
        """Instantiate a copy-on-write branch of this database — the
        reference's "Instantiate a data package inheriting from
        another one" (Kernel/README.md DATA PACKAGE); any number of
        instances may coexist ("Multiple instances of one data
        package"). O(1): one manifest pinning the current table
        versions, no data copied. See sources/branch.py."""
        from herodb_spark.sources.branch import DatabaseBranch

        return DatabaseBranch.create(self, name)

    def open_branch(self, name: str):
        from herodb_spark.sources.branch import DatabaseBranch

        br = DatabaseBranch(self, name)
        if not os.path.exists(br._mf._manifest_path()):
            raise ValueError(f"{self.path}: no branch {name!r}")
        return br

    def branches(self) -> list[str]:
        d = self._branches_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d)
            if os.path.exists(os.path.join(d, n, "_branch_manifest.json"))
        )

    def drop_branch(self, name: str, discard_changes: bool = False) -> None:
        """Discard a branch instance ("Discard a data package
        instance"). A branch holding unmerged divergence is refused
        unless `discard_changes` — mirroring the dependency-checked
        delete discipline."""
        br = self.open_branch(name)
        m = br._load()
        # a crash between merge()'s parent swap and its merged=True
        # marker commit leaves a branch that CLAIMS divergence while its
        # local rewrites already live in the parent — recover the marker
        # from parent history so the drop doesn't demand discard_changes
        # for changes that were in fact merged
        if not m.get("merged") and br._merge_completed(m):
            br._heal_merged(m)
            m = br._load()
        if not m.get("merged") and not discard_changes:
            diverged = [
                n for n, e in br._entry(m).items() if e["origin"] == "local"
            ]
            dropped = set(m["versions"]["0"]["tables"]) - set(br._entry(m))
            if diverged or dropped:
                raise ValueError(
                    f"{self.path}: branch {name!r} has unmerged changes "
                    f"(diverged: {diverged}, dropped: {sorted(dropped)}) — "
                    "merge() first or pass discard_changes=True"
                )
        shutil.rmtree(br.path, ignore_errors=True)

    def delete(self) -> None:
        """Delete the database as a whole — refused while any branch
        (dependent package) exists: the reference's "A data package can
        be deleted as a whole operation, which require all other
        packages that depend on it are deleted"."""
        live = self.branches()
        if live:
            raise ValueError(
                f"{self.path}: cannot delete — dependent branches exist: "
                f"{live} (drop_branch them first)"
            )
        shutil.rmtree(self.path, ignore_errors=True)

    # -- export / import -----------------------------------------------------
    def export_bundle(self, dest: str) -> dict:
        """Export the database as a SELF-CONTAINED reproducible
        artifact — the lakehouse analog of the reference's "Generate
        the whole data base to C++" (Kernel/README.md HIGH-LEVEL
        FEATURES): one directory holding

        - `_bundle.json`: per-table DDL (key/partition columns, schema
          JSON, zone-map stats and file counts of the pinned version)
          plus the PROGRAM LOG — every persisted mutation statement of
          every member table in version order (Rewrite.md:6 "save
          query to log") — the bundle IS the program that reproduces
          the package;
        - `tables/<name>/...`: the partition directories of each
          table's version pinned by the database's CURRENT version
          (immutable copy-on-write dirs, copied as-is).

        `import_bundle(spark, src, dest)` rebuilds a fully functional
        database whose member-table CONTENT is bit-identical (the
        roundtrip hash is pinned in tests) and which accepts new
        transactions. Work ∝ current data size — history is carried as
        the replayable program text, not as physical old versions
        (time travel starts fresh at the import, exactly like the
        reference's regenerated package). Refuses a populated dest."""
        if os.path.exists(dest) and os.listdir(dest):
            raise ValueError(f"{dest}: refusing to export into a non-empty directory")
        m = self._load()
        pins = self._pins(m)
        tables: dict = {}
        program_log: list[dict] = []
        os.makedirs(os.path.join(dest, "tables"), exist_ok=True)
        for name in sorted(pins):
            t = self.table(name)
            tm = t._load()
            pin = int(pins[name])
            entry = tm["versions"][str(pin)]
            tdir = os.path.join(dest, "tables", name)
            parts: dict = {}
            for pv, rel in sorted(entry["partitions"].items()):
                # re-home every pinned partition dir under one v=0
                # layout, named by partition value (source dirs may
                # scatter across versions with colliding leaf names;
                # the real partition column lives INSIDE the data
                # files, so directory names are free)
                import urllib.parse as _up

                new_rel = f"data/v=0-bundle/{_up.quote(pv, safe='')}"
                src_abs = os.path.normpath(os.path.join(t.path, rel))
                dst_abs = os.path.join(tdir, new_rel)
                os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
                shutil.copytree(src_abs, dst_abs)
                parts[pv] = new_rel
            schema_js = tm["versions"][str(pin)].get("schema")
            if schema_js is None:
                sch = SnapshotTable._schema_at(tm, pin)
                schema_js = None if sch is None else sch.json()
            tables[name] = {
                "key_cols": SnapshotTable._keys_at(tm, pin),
                # partitioning AS OF the pin — a standalone migrate
                # after the database's last commit must not relabel
                # the pinned (pre-migration) data
                "partition_col": SnapshotTable._pcol_at(tm, pin),
                "schema": schema_js,
                "partitions": parts,
                "files": {
                    pv: entry.get("files", {}).get(pv)
                    for pv in parts
                    if entry.get("files", {}).get(pv) is not None
                },
                "stats": {
                    pv: entry.get("stats", {}).get(pv)
                    for pv in parts
                    if entry.get("stats", {}).get(pv) is not None
                },
            }
            for h in t.history():
                if h["version"] <= pin and h.get("program"):
                    program_log.append(
                        {"table": name, "version": h["version"], "program": h["program"]}
                    )
        bundle = {
            "source": self.path,
            "db_version": int(m["current"]),
            "tables": tables,
            "program_log": program_log,
        }
        with open(os.path.join(dest, "_bundle.json"), "w") as f:
            json.dump(bundle, f, indent=1, sort_keys=True)
        return {"tables": sorted(tables), "programs": len(program_log), "dest": dest}

    @classmethod
    def import_bundle(cls, spark: SparkSession, src: str, dest: str) -> "SnapshotDatabase":
        """Materialize an exported bundle as a fresh, fully functional
        database at `dest`: every member table re-created at version 0
        with the bundle's DDL + data (content bit-identical to the
        export pins), the bundle's program log recorded on each
        table's import commit. New reads/transactions work
        immediately."""
        with open(os.path.join(src, "_bundle.json")) as f:
            bundle = json.load(f)
        db = cls.create(spark, dest)
        m = db._load()
        rv = m["current"]
        pins: dict = {}
        for name, spec in sorted(bundle["tables"].items()):
            tdir = db._table_path(name)
            os.makedirs(tdir, exist_ok=True)
            parts = dict(spec["partitions"])
            for pv, rel in parts.items():
                dst_abs = os.path.join(tdir, rel)
                os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
                shutil.copytree(os.path.join(src, "tables", name, rel), dst_abs)
            progs = [
                e["program"] for e in bundle.get("program_log", [])
                if e["table"] == name
            ]
            tman = {
                "key_cols": list(spec["key_cols"]),
                "partition_col": spec["partition_col"],
                "current": -1,
                "versions": {},
            }
            SnapshotTable(spark, tdir)._publish(
                tman, "import_bundle", parts, spec.get("files", {}),
                stats=spec.get("stats", {}),
                program="\n".join(progs) if progs else None,
                **({"schema": spec["schema"]} if spec.get("schema") else {}),
            )
            pins[name] = 0
        version = rv + 1
        m["versions"][str(version)] = {"op": "import_bundle", "tables": pins}
        m["current"] = version
        db._mf._commit(m, expected_current=rv)
        return db

    def _branch_pins(self) -> tuple[dict, set]:
        """Table versions any live branch still reaches in PARENT
        storage — parent-origin pins plus the fork bases whose
        partition directories branch-local manifests re-link — and the
        member-table names those pins keep alive. Feeds vacuum: GC may
        never break a branch read. Covers every branch-manifest
        version (branches have history too)."""
        pinned: dict[str, set] = {}
        names: set = set()
        d = self._branches_dir()
        if not os.path.isdir(d):
            return pinned, names
        for b in sorted(os.listdir(d)):
            mp = os.path.join(d, b, "_branch_manifest.json")
            try:
                with open(mp) as f:
                    bm = json.load(f)
            except (OSError, ValueError):
                continue
            for e in bm.get("versions", {}).values():
                for name, ent in e.get("tables", {}).items():
                    if ent.get("origin") == "parent":
                        pinned.setdefault(name, set()).add(int(ent["v"]))
                        names.add(name)
                    elif ent.get("base") is not None:
                        pinned.setdefault(name, set()).add(int(ent["base"]))
                        names.add(name)
        return pinned, names

    # -- GC ----------------------------------------------------------------
    def vacuum(self, keep_last: int = 1) -> dict:
        """Prune database versions (keep newest `keep_last`, always
        including current), then vacuum each member table keeping
        exactly the versions still pinned by a kept database version —
        plus the table's own current — so database time travel and
        table reads both survive GC."""
        m = self._load()
        read_version, read_seq = m["current"], self._mf._seq(m)
        versions = sorted(int(v) for v in m["versions"])
        keep = set(versions[-max(1, keep_last):]) | {m["current"]}
        # keep the newest merge_branch:<b> version for every branch
        # that still EXISTS: a branch whose merged=True marker commit
        # was lost to a crash proves its completed merge from exactly
        # this history entry (_merge_completed) — pruning it would
        # revert the branch to "unmerged" with parent-adopted paths
        d = self._branches_dir()
        live_branches = (
            {b for b in os.listdir(d) if os.path.isdir(os.path.join(d, b))}
            if os.path.isdir(d)
            else set()
        )
        for b in live_branches:
            op = f"merge_branch:{b}"
            mv = [int(v) for v, e in m["versions"].items() if e.get("op") == op]
            if mv:
                keep.add(max(mv))
        dropped = [v for v in versions if v not in keep]
        m["versions"] = {str(v): m["versions"][str(v)] for v in sorted(keep)}
        self._mf._commit(m, expected_current=read_version, expected_seq=read_seq)
        table_report: dict[str, dict] = {}
        pinned: dict[str, set] = {}
        for v in keep:
            for name, tv in m["versions"][str(v)]["tables"].items():
                pinned.setdefault(name, set()).add(int(tv))
        # live BRANCHES pin parent table versions too (parent-origin
        # reads and copy-on-write fork bases whose partition dirs
        # branch manifests re-link) — GC must never break a branch
        branch_pins, branch_names = self._branch_pins()
        for name, tvs in branch_pins.items():
            pinned.setdefault(name, set()).update(tvs)
        for name, tvs in pinned.items():
            if not os.path.isdir(self._table_path(name)):
                continue  # branch-only name whose parent table is gone
            table_report[name] = self.table(name).vacuum(keep_last=1, also_keep=tvs)
        # physical reclaim of DROPPED tables: a member directory no
        # kept database version pins is unreachable through any read
        # path — delete it so create_table() may reuse the name (the
        # free-page-reuse half of drop_table; the use-mask analogy is
        # the pin set itself, TestUtility_Buffer.cpp:182/228).
        #
        # SWEEP-vs-CREATE ATOMICITY: the manifest re-load and the
        # rename-to-trash of every candidate run INSIDE the manifest
        # commit lock — the same critical section create_table's
        # name-publish rename and every OCC commit use. A create_table
        # that committed before we took the lock is visible in the
        # fresh manifest (name live → skipped); one that commits after
        # publishes under the lock, so it can never interleave its
        # directory between our liveness check and our rename. The
        # slow rmtree happens AFTER the lock is released, on hidden
        # .trash- paths no reader or writer resolves; a crash between
        # rename and rmtree leaves a dotted orphan the age-gated
        # dotted-dir sweep below reclaims on a later vacuum.
        reclaimed: list[str] = []
        trash: list[str] = []
        tables_dir = os.path.join(self.path, "tables")
        if os.path.isdir(tables_dir):
            with self._mf._commit_critical():
                fresh = self._load()
                live_names = {
                    name for e in fresh["versions"].values() for name in e["tables"]
                }
                for name in sorted(os.listdir(tables_dir)):
                    full = os.path.join(tables_dir, name)
                    if not os.path.isdir(full):
                        continue
                    if name.startswith("."):
                        # hidden dirs: create_table stages (.stage-*) and
                        # orphaned trash (.trash-*). Reclaim only when old
                        # enough that no live create can still own them.
                        try:
                            age = time.time() - os.path.getmtime(full)
                        except OSError:
                            continue
                        if age > self.STAGE_ORPHAN_GRACE_S:
                            trash.append(full)
                        continue
                    if name not in pinned and name not in live_names and name not in branch_names:
                        dst = os.path.join(tables_dir, f".trash-{uuid.uuid4().hex[:8]}")
                        try:
                            os.rename(full, dst)
                        except OSError:
                            continue  # concurrent sweep took it first
                        trash.append(dst)
                        reclaimed.append(name)
        for dst in trash:
            # ignore_errors: two vacuums can race on an aged orphan
            # (same contract as SnapshotTable.vacuum's dir sweep)
            shutil.rmtree(dst, ignore_errors=True)
        return {
            "dropped_db_versions": dropped,
            "tables": table_report,
            "reclaimed_tables": reclaimed,
        }


class Transaction:
    """Multi-table atomic transaction: eager member-table commits,
    one database pointer swap at exit. Use as a context manager; an
    exception inside the block abandons the transaction (no database
    commit — the next recovery sweeps the orphaned table versions).

    CONFLICT ARBITRATION (Rewrite.md:9-13 — the reference queues
    transactions and submits the highest-cost one, rolling back all
    conflicted transactions; with sum-of-costs as the refinement —
    at the sub-table granularity of its lock targets, Lock.h:22-29
    Table/Page/Row). Under OCC the committed winner is physical, so
    the arbitration maps to the loser's side:

    - every transaction carries a COST (partitions rewritten across
      its member-table commits — the copy-on-write work metric that
      needs no extra Spark job), recorded in the database version
      entry it publishes AND advertised live in a heartbeated
      COMMIT-INTENT file under <db>/_intents/ while the transaction
      is in flight;
    - a transaction that loses the pointer swap to an interleaved
      commit on DISJOINT tables does not cancel: it REBASES (adopts
      the new pin set, re-validates that its own tables and private
      versions are untouched) and retries with bounded backoff — a
      6-hour batch mutation survives any number of cheap disjoint
      commits instead of losing its work to a 1-minute one;
    - a mutation that finds its table already advanced by a PUBLISHED
      interleaved commit re-executes on top of it (serialize-after),
      and the commit is kept if, against every interleaved commit,
      the partition sets the two sides physically rewrote are
      DISJOINT (the Page level — the manifest's per-version rewrite
      lists prove this for free), OR every shared partition's
      recorded update-key hulls prove the KEY sets don't intersect
      (the Row level — merge_upsert commits record per-partition
      [min, max] of the keys they logically wrote). Two pipelines
      upserting different partitions — or different keys of the SAME
      partition — of one big fact table both land; a provable or
      unprovable key overlap cancels (the rerun's inputs may derive
      from the superseded snapshot — lost-update risk), mirroring
      the reference's Table/Page/Row lock targets (Lock.h:22-27);
    - a mutation that finds its table held by a live sibling's
      UNPUBLISHED private version arbitrates on cost: if this
      transaction's accumulated cost exceeds the sum of the live
      holders' advertised costs (txn-id tiebreak on equality), it
      ROLLS THE HOLDERS BACK (heal + seq fence — "submit the
      transaction of highest cost, rollback all conflicted") and
      proceeds; otherwise it DEFERS, polling until the winner
      publishes (then the partition-granular rebase above applies)
      or goes stale past the grace window (healed as a crash),
      cancelling only on ARBITRATION_WAIT_S timeout;
    - same-table conflicts that remain (overlapping partitions,
      unpartitioned tables, schema-changing interleaves, declared
      read-set overlap) cancel with ConcurrentWriteError reporting
      both costs. These are the cases the reference's arbiter would
      also have to cancel one side of.

    ISOLATION. The default, `isolation="write_serializable"`, checks
    WRITE-WRITE conflicts only — the same level lakehouse formats
    default to — which admits the classic write-skew anomaly: a
    transaction that READ table X and wrote Y = f(X) can rebase over
    an interleaved commit to X and publish a Y derived from the old
    X. Two escapes:
    - call `t.read(name)` for in-transaction reads: read tables join
      the rebase conflict check at PARTITION granularity (the
      Shared/IntentShared analog of Lock.h:29-38) — an interleaved
      commit that rewrote partitions the read resolved cancels the
      transaction, while a reader of partition A and a writer of
      partition B both proceed (pass `ranges` to narrow the declared
      set; a whole-table read conflicts with any commit to the
      table). This gives serializable behavior for declared read
      sets with the arbitration benefit intact;
    - `isolation="serializable"` disables rebasing entirely — any
      interleaved commit cancels, exactly the pre-arbitration
      first-committer-wins behavior.
    """

    #: diverged member tables with no LIVE COMMIT INTENT claiming
    #: them and a manifest mtime older than this are presumed crash
    #: leftovers. Liveness has two signals: the transaction's intent
    #: file, refreshed by a BACKGROUND HEARTBEAT THREAD every
    #: HEARTBEAT_S (so a single statement that runs for hours stays
    #: live — the r7 advice), and the member manifests' mtimes, which
    #: every _apply refreshes for writers without intents. Explicit
    #: recover() remains the unconditional path for known crashes.
    RECOVER_GRACE_S = 1800.0
    #: background intent-heartbeat period (seconds)
    HEARTBEAT_S = 60.0
    #: bounded rebase-retry budget for disjoint-table pointer races
    MAX_REBASES = 5
    #: how long a mutation defers to a live higher-cost holder of its
    #: table before cancelling (the holder normally publishes or goes
    #: stale well within this)
    ARBITRATION_WAIT_S = 30.0
    #: arbitration poll period
    POLL_S = 0.05

    def __init__(
        self,
        db: SnapshotDatabase,
        txn: tuple[str, int] | None = None,
        isolation: str = "write_serializable",
    ):
        if isolation not in ("write_serializable", "serializable"):
            raise ValueError(f"unknown isolation level {isolation!r}")
        self.db = db
        self._txn_mark = txn
        self._new_pins: dict[str, int] = {}
        #: declared read set (the Shared/IntentShared analog of the
        #: reference's lock modes, Lock.h:29-38): {table: None for a
        #: whole-table read, else a list of read descriptors
        #: {"ranges": declared predicate or None, "parts": partitions
        #: it resolved at the pin}}. Conflicts are decided by
        #: _read_set_conflicts: partition-granular for asserted
        #: partition sets, ROW-granular (declared range vs the
        #: writer's recorded key hull) inside resolved partitions,
        #: and phantom-safe (post-commit zone-map re-test) outside
        #: them — the predicate-lock/next-key analog of the
        #: reference's Shared row locks.
        self._read_sets: dict[str, list | None] = {}
        self._entered = False
        self.isolation = isolation
        self.cost = 0
        #: stable identity for the commit-intent file and for the
        #: deterministic equal-cost tiebreak (both sides of a race
        #: order the same way)
        self.txn_id = uuid.uuid4().hex
        #: per-version descriptors ({"parts", "key_ranges"}) of
        #: interleaved PUBLISHED commits to tables this transaction
        #: later writes — the post-mutation disjointness guard checks
        #: every own commit against EACH of these
        self._foreign_commits: dict[str, list[dict]] = {}
        #: OSErrors from heartbeat/utime refreshes, surfaced instead
        #: of swallowed (r7 advice): inspect after long transactions
        #: on stores where utime is unreliable
        self.heartbeat_errors: list[str] = []
        self._hb_stop: threading.Event | None = None
        self._hb_thread: threading.Thread | None = None
        #: serializes _apply's shared-state sections (pins, cost,
        #: intent writes, foreign-commit records, rebase) so that
        #: INDEPENDENT statements on DIFFERENT member tables may run
        #: concurrently from driver threads (guide §2.6 overlap —
        #: r13 deferred, r14 landed). The mutation's own Spark job
        #: (fn(t)) runs outside the lock; statements on the SAME table
        #: still serialize through their manifest's OCC. An arbitration
        #: defer-poll holds the lock (other statements of this
        #: transaction wait out the poll — the safe, boring choice).
        self._lock = threading.RLock()

    # -- commit intent + heartbeat ------------------------------------------
    def _intent_path(self) -> str:
        return os.path.join(self.db._intent_dir(), f"{self.txn_id}.json")

    def _write_intent(self) -> None:
        """Advertise this transaction's live state (cost, private
        table versions) for sibling arbitration; atomic replace, and
        the write itself refreshes the liveness mtime."""
        os.makedirs(self.db._intent_dir(), exist_ok=True)
        p = self._intent_path()
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "txn_id": self.txn_id,
                    "cost": self.cost,
                    "tables": dict(self._new_pins),
                    "isolation": self.isolation,
                },
                f,
            )
        os.replace(tmp, p)

    def _heartbeat_loop(self) -> None:
        while not self._hb_stop.wait(self.HEARTBEAT_S):
            try:
                os.utime(self._intent_path())
            except OSError as e:
                self.heartbeat_errors.append(f"intent heartbeat: {e}")

    def _stop_heartbeat(self) -> None:
        if self._hb_stop is not None:
            self._hb_stop.set()
        if self._hb_thread is not None:
            self._hb_thread.join(timeout=5.0)
        self._hb_stop = self._hb_thread = None

    def declare_read(
        self, name: str, parts: set | None = None, ranges: dict | None = None
    ) -> None:
        """Add `name` to the declared read set. Three shapes:

        - no parts, no ranges: whole-table read — conflicts with ANY
          interleaved commit to the table (dominates everything);
        - `parts` only: caller-ASSERTED partition set — the caller
          vouches its logic depends on those partitions only, so
          interleaves conflict exactly when their rewrite lists
          overlap `parts`;
        - `ranges` (+ the parts it resolved): a DECLARED PREDICATE —
          conflicts are row-granular inside `parts` (the writer's key
          hull vs the range) and phantom-checked outside them (the
          writer's post-commit zone maps vs the range).

        Reads accumulate as independent descriptors; a whole-table
        read dominates."""
        if parts is None and ranges is None:
            self._read_sets[name] = None
            return
        if ranges is not None and parts is None:
            # a predicate without its pin-resolved partition set can't
            # distinguish "partition changed under my read" from the
            # phantom cases — Transaction.read(ranges=) computes the
            # resolved set; external callers must pass both
            raise ValueError(
                "declare_read(ranges=...) requires the pin-resolved "
                "partition set (use Transaction.read(name, ranges=...))"
            )
        if self._read_sets.get(name, ()) is None:
            return  # a whole-table read already dominates
        self._read_sets.setdefault(name, []).append(
            {"ranges": dict(ranges) if ranges else None, "parts": set(parts)}
        )

    def read(self, name: str, ranges: dict | None = None):
        """Pin-consistent in-transaction read with read-your-writes
        (a table this transaction already committed resolves to its
        private version). Reading through this method also DECLARES
        the read in the transaction's read set, so an interleaved
        commit that could have changed what was read cancels the
        transaction instead of silently rebasing over it (see the
        class docstring's isolation note).

        `ranges` ({col: (lo, hi)}, inclusive) narrows the scan (zone-
        map partition pruning), the RETURNED ROWS (the row-level
        filter is applied here, so the frame is exactly the declared
        footprint), and the declared read set — which records the
        predicate itself plus the partitions it resolved at the pin.
        Conflict checks are then row-granular within the resolved
        partitions (an interleaved writer of provably-different keys
        in the SAME partition is admitted) and phantom-safe outside
        them (a writer CREATING a matching partition, or rewriting a
        previously-skipped one so it now matches, still cancels) —
        Lock.h:29-38 Shared at Row granularity plus its next-key
        analog."""
        if not self._entered:
            raise RuntimeError("transaction used outside its with-block")
        if name not in self._base_pins and name not in self._new_pins:
            raise ValueError(f"no table {name!r} in this database")
        t = self.db.table(name)
        v = self._new_pins.get(name, self._base_pins.get(name))
        if ranges:
            tm = t._load()
            entry = tm["versions"].get(str(v)) or {}
            stats = entry.get("stats", {})
            resolved = {
                pv
                for pv in entry.get("partitions", {})
                if not t._skippable(stats.get(pv, {}), ranges)
            }
            self.declare_read(name, resolved, ranges=ranges)
            df = t.read(version=v, ranges=ranges)
            for c, (lo, hi) in ranges.items():
                if lo is not None:
                    df = df.where(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(c) <= F.lit(hi))
            return df
        self.declare_read(name)
        return t.read(version=v)

    def __enter__(self) -> "Transaction":
        # heal STALE crashed predecessors before reading seq; live
        # in-flight writers (fresh intents/manifests) are left alone
        # so overlapping transactions no longer cancel each other here
        self.db.recover(stale_after=self.RECOVER_GRACE_S)
        m = self.db._load()
        self._read_version = m["current"]
        self._read_seq = self.db._mf._seq(m)
        self._base_pins = dict(self.db._pins(m))
        self._entered = True
        self._write_intent()
        self._hb_stop = threading.Event()
        self._hb_thread = threading.Thread(target=self._heartbeat_loop, daemon=True)
        self._hb_thread.start()
        return self

    # each mutation is a normal OCC table commit; the version it
    # produces stays private (no reader resolves it) until commit()
    def _apply(self, name: str, fn) -> int:
        if not self._entered:
            raise RuntimeError("transaction used outside its with-block")
        if name not in self._base_pins:
            raise ValueError(f"no table {name!r} in this database")
        t = self.db.table(name)
        # expected current = our own last commit in this transaction,
        # else the pin read at __enter__. This pre-check is LOAD-
        # BEARING, not redundant with the table's own OCC: a
        # concurrent writer that already advanced the table would
        # otherwise be silently built upon (write skew) — the table
        # commit itself reads current fresh and wouldn't object.
        version = None
        for _attempt in range(self.MAX_REBASES + 1):
            with self._lock:
                expected = self._new_pins.get(name, self._base_pins[name])
                if t._load()["current"] != expected:
                    if name in self._new_pins:
                        # our own private version was discarded — a higher-
                        # cost sibling's arbitration heal or a recovery
                        # swept it; this transaction is fenced out
                        raise ConcurrentWriteError(
                            f"{t.path}: this transaction's private version {expected} "
                            f"(cost {self.cost}) was rolled back by arbitration or "
                            "recovery — fenced out"
                        )
                    expected = self._arbitrate_table_race(name, t)
            # the mutation's own Spark job runs OUTSIDE the lock, so
            # independent same-transaction statements on other tables
            # overlap (guide §2.6); same-table statements from this
            # transaction are the caller's responsibility to order
            try:
                version = fn(t)
                break
            except ConcurrentWriteError:
                # the table-level OCC commit inside the mutation lost
                # a race that started AFTER our pre-check (concurrent
                # writers overlapping in time, not just serialized
                # interleaves): route it through the same arbitration
                # and re-execute — a failed table commit leaves only
                # unreferenced files, never a manifest change
                if _attempt == self.MAX_REBASES:
                    raise
                continue
        assert version is not None
        with self._lock:
            return self._post_apply(name, t, version, expected)

    def _post_apply(self, name: str, t: SnapshotTable, version: int, expected: int) -> int:
        """_apply's shared-state bookkeeping after the mutation's own
        commit — pins, conflict guard, heartbeats, cost, intent.
        Caller holds self._lock."""
        if version != expected:  # no-op mutations don't dirty the txn
            self._new_pins[name] = version
            # sub-table conflict check (Lock.h:22-27 Table/Page/Row
            # analog): when interleaved commits rewrote partitions of
            # this table under us — recorded at arbitration time
            # (guard) OR landed between arbitration and the mutation's
            # own manifest load (versions (expected, version-1], which
            # the mutation silently built upon) — our commit survives
            # if, against EVERY interleaved commit, the partition sets
            # are disjoint (Page level) OR, for each shared partition,
            # the recorded update-key hulls prove the KEY sets don't
            # intersect (Row level — two pipelines upserting different
            # keys of the same partition both land; the re-executed
            # merge already carried the interleaver's rows forward).
            # Else undo OUR version ONLY (rollback to version-1
            # preserves the innocent interleaved commits) and cancel
            # (lost-update risk: our inputs may derive from the
            # superseded snapshot).
            tm = t._load()
            guard = list(self._foreign_commits.get(name) or ())
            mid = _foreign_descriptors(tm, expected, version - 1)
            # a conflict needs a FOREIGN commit to conflict with:
            # `ours = None` (a schema-changing commit — add_columns,
            # migrate — whose rewrite set is every partition) cancels
            # only when interleaved commits actually exist or the
            # interleave span itself is unknowable (r13 fix — a clean
            # single-writer schema migration previously self-cancelled)
            if guard or mid or mid is None:
                ours = _rewritten_partitions(tm, version)
                ours_kr = (tm["versions"].get(str(version)) or {}).get("key_ranges")
                clash = (
                    None
                    if (ours is None or mid is None)
                    else sorted(
                        {
                            pv
                            for fc in guard + mid
                            for pv in ours & fc["parts"]
                            if not _keys_disjoint(ours_kr, fc["key_ranges"], pv)
                        }
                    )
                )
                if ours is None or mid is None or clash:
                    del self._new_pins[name]
                    t.rollback(version - 1)
                    raise ConcurrentWriteError(
                        f"{t.path}: partitions {clash or '(unknown)'} rewritten by "
                        f"this transaction (cost {self.cost}) were also rewritten "
                        "by an interleaved committed transaction with overlapping "
                        "(or unrecorded) key ranges — not rebasable, cancelling"
                    )
        # progress heartbeat: refresh the mtime of every member
        # manifest this transaction already committed so a sibling
        # transaction's grace-window recovery keeps treating them as
        # live (see RECOVER_GRACE_S); failures are surfaced on
        # heartbeat_errors, not swallowed (the intent heartbeat is
        # the primary liveness signal)
        for other in self._new_pins:
            try:
                os.utime(self.db.table(other)._manifest_path())
            except OSError as e:
                self.heartbeat_errors.append(f"manifest heartbeat {other}: {e}")
        # cost = copy-on-write work: partitions this commit physically
        # rewrote (manifest metadata — no extra Spark job). A no-op
        # mutation (version unchanged) adds nothing.
        if version != expected:
            entry = t._load()["versions"].get(str(version), {})
            prefix = f"data/v={version}-"
            self.cost += sum(
                1 for rel in entry.get("partitions", {}).values() if rel.startswith(prefix)
            )
        self._write_intent()  # advertise new cost + private versions
        return version

    def _arbitrate_table_race(self, name: str, t: SnapshotTable) -> int:
        """The table this mutation targets advanced past our snapshot.
        Resolve per the class docstring's arbitration contract and
        return the version to build on, or raise ConcurrentWriteError.
        Three live cases, looped until settled or timed out:

        - interleaved commits are PUBLISHED (db pin caught up): record
          the partitions they rewrote for the post-mutation
          disjointness guard, rebase the whole transaction onto the
          new pins (raises if our declared read/write set overlaps),
          and re-execute on top — serialize-after;
        - a live sibling holds UNPUBLISHED private versions: compare
          our accumulated cost against the sum of the live holders'
          advertised costs (Rewrite.md:11-13 with the sum-of-costs
          refinement; txn-id tiebreak) — win: roll the holders back
          (heal + seq fence) and proceed; lose: defer-poll until the
          winner publishes or goes stale;
        - no live intent and a stale manifest: crash leftovers — heal
          and proceed."""
        if self.isolation == "serializable":
            raise ConcurrentWriteError(
                f"{t.path}: table advanced under a serializable transaction "
                f"(cost {self.cost}) — cancelling (arbitration disabled at "
                "this isolation level)"
            )
        deadline = time.time() + self.ARBITRATION_WAIT_S
        while True:
            tm = t._load()
            cur = tm["current"]
            base = self._base_pins[name]
            if cur == base:
                return base  # settled (healed, or resolved under us)
            pin = self.db._pins(self.db._load()).get(name, base)
            if pin > base:
                # published interleave: sub-table-granular rebase
                descs = _foreign_descriptors(tm, base, pin)
                if descs is None:
                    raise ConcurrentWriteError(
                        f"{t.path}: interleaved committed transaction changed "
                        f"{name!r}'s schema or its versions were vacuumed — "
                        f"not rebasable (cost {self.cost}), cancelling"
                    )
                if name in self._read_sets:
                    # this mutation's table is also in the declared
                    # READ set: serializing after the interleave is
                    # only sound when it provably could not have
                    # changed what the read resolved — row-granular
                    # inside resolved partitions, phantom-checked
                    # outside them (Lock.h:29-38 Shared at Row +
                    # next-key; see _read_set_conflicts)
                    bad = _read_set_conflicts(self._read_sets[name], descs)
                    if bad:
                        raise ConcurrentWriteError(
                            f"{t.path}: partitions {bad} of {name!r}, "
                            f"intersecting this transaction's declared read "
                            f"set (cost {self.cost}), were rewritten by a "
                            "concurrent committed writer — cancelling "
                            "(serializing after it could commit writes derived "
                            "from a superseded read)"
                        )
                if tm.get("partition_col") is None and any(
                    d["parts"] and d["key_ranges"] is None for d in descs
                ):
                    # unpartitioned table = single partition, and some
                    # interleave recorded no key hulls: overlap is
                    # guaranteed with no possible key-level
                    # exoneration — fail fast, before paying the
                    # re-executed mutation job. (All-merge_upsert
                    # interleaves proceed: the post-mutation guard can
                    # still prove the key sets disjoint.)
                    wcost = (
                        self.db._load()["versions"].get(str(pin), {}).get("cost", "?")
                    )
                    raise ConcurrentWriteError(
                        f"{t.path}: table {name!r} (unpartitioned) was committed "
                        f"by an interleaved transaction (cost {wcost}); this "
                        f"transaction (cost {self.cost}) rewrites the same single "
                        "partition — same-table conflict, cancelling"
                    )
                self._foreign_commits.setdefault(name, []).extend(descs)
                self._rebase()  # adopt pins; raises on read/write overlap
                continue
            # unpublished private versions ahead of the pin. A holder
            # counts only while its claimed private version is still
            # plausibly live (pin < claimed <= current): a zombie
            # whose version a higher-cost winner already healed away
            # keeps heartbeating an intent that claims the table —
            # counting its cost would skew later arbitrations until
            # it notices it was fenced at its next statement.
            live = self.db._live_intents(self.RECOVER_GRACE_S, exclude=self.txn_id)
            holders = {
                k: v
                for k, v in live.items()
                if pin < int(v.get("tables", {}).get(name, -1)) <= cur
            }
            if holders:
                their_cost = sum(int(v.get("cost", 0)) for v in holders.values())
                if (self.cost, self.txn_id) > (their_cost, max(holders)):
                    # we are the highest-cost side: submit us, roll
                    # back the conflicted holders (they fence out)
                    self.db._heal_table(name, pin)
                    continue
            else:
                try:
                    age = time.time() - os.path.getmtime(t._manifest_path())
                except OSError:
                    age = float("inf")
                if age > self.RECOVER_GRACE_S:
                    self.db._heal_table(name, pin)  # crash leftovers
                    continue
            if time.time() >= deadline:
                raise ConcurrentWriteError(
                    f"{t.path}: table {name!r} is held by live transaction(s) "
                    f"{sorted(holders) or '(unknown writer)'} with total cost "
                    f"{sum(int(v.get('cost', 0)) for v in holders.values())} ≥ "
                    f"ours ({self.cost}); deferred {self.ARBITRATION_WAIT_S}s "
                    "without a publish — cancelling"
                )
            time.sleep(self.POLL_S)

    def merge_upsert(self, name: str, updates: DataFrame, program: str | None = None) -> int:
        return self._apply(name, lambda t: t.merge_upsert(updates, program=program))

    def update_where(
        self, name: str, predicate: Column, assignments: dict, program: str | None = None
    ) -> int:
        return self._apply(name, lambda t: t.update_where(predicate, assignments, program=program))

    def delete_where(self, name: str, predicate: Column, program: str | None = None) -> int:
        return self._apply(name, lambda t: t.delete_where(predicate, program=program))

    def overwrite(self, name: str, df: DataFrame, program: str | None = None) -> int:
        return self._apply(name, lambda t: t.overwrite(df, program=program))

    def migrate(
        self,
        name: str,
        columns: dict,
        key_cols: list[str] | None = None,
        partition_col: str | None | object = "__keep__",
        program: str | None = None,
    ) -> int:
        """Schema migration with a data-moving procedure inside this
        transaction (see SnapshotTable.migrate) — the new definition
        publishes with the same atomic pin swap as any member-table
        mutation, so readers never see a half-migrated package."""
        return self._apply(
            name,
            lambda t: t.migrate(
                columns, key_cols=key_cols, partition_col=partition_col,
                program=program,
            ),
        )

    def add_columns(self, name: str, new_cols: dict) -> int:
        return self._apply(name, lambda t: t.add_columns(new_cols))

    def compact(self, name: str, max_files_per_partition: int = 4) -> dict:
        """Compact one member table inside this transaction (see
        SnapshotDatabase.compact for why compaction must go through
        the pin swap). Returns the table-level compact report."""
        report: dict = {}

        def fn(t):
            report.update(t.compact(max_files_per_partition=max_files_per_partition))
            return t._load()["current"]

        self._apply(name, fn)
        return report

    def cluster(
        self, name: str, cluster_by: list[str], files_per_partition: int = 4
    ) -> dict:
        """Z-order one member table inside this transaction (see
        SnapshotDatabase.cluster). Returns the table-level report."""
        report: dict = {}

        def fn(t):
            report.update(t.cluster(cluster_by, files_per_partition=files_per_partition))
            return t._load()["current"]

        self._apply(name, fn)
        return report

    def _try_swap(self) -> int:
        m = self.db._load()
        pins = dict(self._base_pins)
        pins.update(self._new_pins)
        version = self._read_version + 1
        m["versions"][str(version)] = {"op": "txn", "tables": pins, "cost": self.cost}
        m["current"] = version
        if self._txn_mark is not None:
            m.setdefault("txns", {})[self._txn_mark[0]] = int(self._txn_mark[1])
        self.db._mf._commit(
            m, expected_current=self._read_version, expected_seq=self._read_seq
        )
        return version

    def _rebase(self) -> None:
        """Adopt the advanced database state after losing the pointer
        swap to a DISJOINT interleaved commit. Safe iff (a) no table
        this transaction touched — WROTE, or READ through t.read() —
        changed pins under it, (b) serializable isolation was not
        requested, and (c) its own private member-table versions are
        still each table's current (an unconditional recover() would
        have rolled them back — that seq fence must keep cancelling
        us). Raises ConcurrentWriteError (with both costs)
        otherwise."""
        m = self.db._load()
        new_pins = dict(self.db._pins(m))
        winner_cost = m["versions"][str(m["current"])].get("cost", "?")
        if self.isolation == "serializable":
            raise ConcurrentWriteError(
                f"{self.db.path}: database advanced under a serializable "
                f"transaction (cost {self.cost}; interleaved cost {winner_cost}) "
                "— cancelling (rebase disabled at this isolation level)"
            )
        # fence check FIRST: a private version rolled back by a
        # higher-cost sibling's arbitration (or recovery) means this
        # transaction already lost — report that, not a pin overlap
        for name, v in self._new_pins.items():
            if self.db.table(name)._load()["current"] != v:
                raise ConcurrentWriteError(
                    f"{self.db.path}: table {name!r} private version {v} was "
                    "rolled back by arbitration or recovery — this transaction "
                    f"(cost {self.cost}) is fenced out"
                )
        # a WRITTEN table whose pin advanced past our private chain is
        # always a conflict; a READ-ONLY table that advanced conflicts
        # only when some interleaved commit could have changed what
        # the declared read set resolved — row-granular inside
        # resolved partitions, phantom-checked outside them
        # (Lock.h:29-38 Shared at Row + next-key; _read_set_conflicts)
        # — a reader of partition A (or of keys [1..10] of partition
        # A) rebases over a writer of partition B (or of keys
        # [100..110] of A)
        overlap = []
        for n in sorted(set(self._new_pins) | set(self._read_sets)):
            if new_pins.get(n) == self._base_pins.get(n):
                continue
            if n in self._new_pins:
                overlap.append(n)
                continue
            descs = _foreign_descriptors(
                self.db.table(n)._load(), self._base_pins.get(n), new_pins.get(n)
            )
            if _read_set_conflicts(self._read_sets[n], descs):
                overlap.append(n)
        if overlap:
            raise ConcurrentWriteError(
                f"{self.db.path}: tables {overlap} (in this transaction's "
                f"read/write set, cost {self.cost}) were committed by an "
                f"interleaved transaction (cost {winner_cost}); its member-table "
                "versions supersede this snapshot — cancelling (overlapping "
                "conflict is not rebasable)"
            )
        self._read_version = m["current"]
        self._read_seq = self.db._mf._seq(m)
        self._base_pins = new_pins

    def commit(self) -> int:
        """The atomic publish: one database-manifest swap pinning every
        mutated table's new version together, OCC-validated against the
        seq read at __enter__ (or the last rebase). A lost swap against
        a DISJOINT interleaved commit rebases and retries with bounded
        backoff (MAX_REBASES) — the cost-arbitration contract in the
        class docstring; same-table conflicts and recovery fences
        cancel the transaction."""
        import time as _time

        for attempt in range(self.MAX_REBASES + 1):
            try:
                v = self._try_swap()
            except ConcurrentWriteError:
                if attempt == self.MAX_REBASES:
                    raise
                self._rebase()  # raises on genuine conflict
                _time.sleep(0.01 * (2**attempt))
                continue
            # published: the intent has served its purpose (callers
            # that skip __exit__ — bare commit() — must not leave a
            # live intent claiming the now-public versions)
            self._stop_heartbeat()
            try:
                os.unlink(self._intent_path())
            except OSError:
                pass
            return v
        raise AssertionError("unreachable")

    def __exit__(self, exc_type, exc, tb) -> bool:
        self._entered = False
        try:
            # a watermarked (streaming) transaction commits even when
            # the batch produced no row changes — the watermark must
            # advance or the batch would replay forever
            if exc_type is None and (self._new_pins or self._txn_mark is not None):
                self.commit()
        finally:
            # only after the publish (or abort) is the intent dead —
            # a sibling arbitrating mid-commit must still see us live
            self._stop_heartbeat()
            try:
                os.unlink(self._intent_path())
            except OSError:
                pass
        return False
