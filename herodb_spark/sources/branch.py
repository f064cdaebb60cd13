"""Database branching — the reference's data-package instantiate /
inherit / merge surface re-expressed on the snapshot lakehouse.

Reference (Kernel/README.md "DATA PACKAGE" + "HIGH-LEVEL FEATURES"):
- "Multiple instances of one data package"            → db.branch(name), any number
- "Instantiate a data package inheriting from another" → the branch SEES
  the parent's tables through pinned versions (inheritance = read-through)
- "Discard a data package instance"                   → db.drop_branch(name)
- "Merge a inheriting data package to its parent"     → branch.merge()
- "A data package can be deleted as a whole operation, which require
  all other packages that depend on it are deleted"   → db.delete()
  refuses while branches exist (the dependency check)

Lakehouse mechanics (the Spark-first design, not the reference's paged
files):

- `db.branch(name)` writes ONE manifest under <db>/branches/<name>/
  pinning the parent's current {table -> version} set — O(1), zero
  data copied, exactly how lakehouse refs (Iceberg/Nessie branches)
  instantiate. Parent and branch then evolve independently: the parent
  never reads through branch state, the branch resolves parent-origin
  tables at its PINNED versions (immutable snapshots), so no later
  parent commit can leak in.
- The first branch WRITE to an inherited table forks it COPY-ON-WRITE:
  a branch-local SnapshotTable whose version-0 manifest re-links the
  parent's pinned partition directories by RELATIVE path (metadata
  only — still no data copied); the mutation itself then rewrites only
  its touched partitions into branch-local files, the untouched refs
  keep pointing at parent storage. Parent vacuum keeps every version a
  branch pins (see SnapshotDatabase.vacuum), so those refs stay live.
- `merge()` publishes the branch back through the SAME OCC conflict
  arbitration granularity transactions use (database.py Lock.h:22-29
  analogy — Table = pin set, Page = partition rewrite lists): a table
  only the branch changed FAST-FORWARDS; a table both sides changed
  merges iff the two sides' rewritten partition sets are provably
  DISJOINT (three-way overlay: parent's current map + the branch's
  rewritten partitions, physically adopted by rename); overlapping
  partitions / schema changes / drop-vs-write races CANCEL with
  MergeConflict reporting both sides — the reference's conflict-cancel
  rule. The pin publish is one atomic parent-manifest swap, seq-fenced
  against everything that happened since the merge began, with
  branch-created tables name-published inside the same critical
  section create_table uses.

At 100 TB the branch is O(1) metadata, a branch mutation costs exactly
what the same mutation costs on the parent (partition-granular
copy-on-write), and merge moves only the diverged partitions' files by
rename — never proportional to table size.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession

from herodb_spark.sources.snapshot import ConcurrentWriteError, SnapshotTable

_BRANCH_MANIFEST = "_branch_manifest.json"


class MergeConflict(ConcurrentWriteError):
    """Branch merge cancelled: the parent and the branch changed
    overlapping state since the branch point (or the parent advanced
    during the merge). The branch is left intact — rework or discard."""


class _BranchManifest(SnapshotTable):
    """Reuses SnapshotTable's atomic-replace + lock-file OCC commit for
    the branch's own manifest-of-manifests (same pattern _DbManifest
    uses for the parent)."""

    _manifest_name = _BRANCH_MANIFEST


class DatabaseBranch:
    """A named copy-on-write instance of a SnapshotDatabase. Single
    level: branching a branch is refused (the reference's "strong
    typed package non-circle dependency" — the parent/child relation
    stays a tree of depth 1 per database)."""

    def __init__(self, parent, name: str):
        self.parent = parent
        self.name = name
        self.spark: SparkSession = parent.spark
        self.path = os.path.join(parent.path, "branches", name)
        self._mf = _BranchManifest(self.spark, self.path)

    # -- creation / manifest -------------------------------------------------
    @classmethod
    def create(cls, parent, name: str) -> "DatabaseBranch":
        if "/" in name or name.startswith(".") or name.startswith("_") or not name:
            raise ValueError(f"invalid branch name {name!r}")
        br = cls(parent, name)
        if os.path.exists(br._mf._manifest_path()):
            raise ValueError(f"{parent.path}: branch {name!r} already exists")
        pm = parent._load()
        pv = pm["current"]
        pins = {
            n: {"v": int(tv), "origin": "parent"}
            for n, tv in parent._pins(pm).items()
        }
        os.makedirs(os.path.join(br.path, "tables"), exist_ok=True)
        br._mf._commit(
            {
                "current": 0,
                "parent_version": pv,
                "merged": False,
                "versions": {"0": {"op": "branch", "tables": pins}},
            }
        )
        # close the branch-vs-vacuum race: the pins came from the
        # parent's CURRENT version (which a concurrent vacuum always
        # keeps), but if a commit+vacuum interleaved between our read
        # and our manifest landing on disk, the pinned version may be
        # gone — re-validate now that the branch dir is visible to
        # vacuum's sweep, and retract if so.
        fresh = parent._load()
        if str(pv) not in fresh["versions"]:
            shutil.rmtree(br.path, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{parent.path}: parent version {pv} was vacuumed while "
                f"branching — retry branch({name!r})"
            )
        return br

    def _load(self) -> dict:
        return self._mf._load()

    def _entry(self, m: dict | None = None) -> dict:
        m = m or self._load()
        return m["versions"][str(m["current"])]["tables"]

    def _table_path(self, name: str) -> str:
        if "/" in name or name.startswith("_") or name.startswith("."):
            raise ValueError(f"invalid table name {name!r}")
        return os.path.join(self.path, "tables", name)

    def _merge_completed(self, m: dict) -> bool:
        """Detect a merge whose parent swap LANDED but whose
        merged=True marker commit was lost to a crash (the window
        between the parent-manifest swap and the final branch-manifest
        commit in merge()): the parent history then holds a
        `merge_branch:<name>` version NEWER than this branch's
        recorded creation point. A same-name branch created after an
        older merge can't false-positive — its parent_version is at or
        past that merge's version."""
        if m.get("merged"):
            return True
        try:
            pv = int(m.get("parent_version", -1))
            pm = self.parent._load()
        except (OSError, ValueError):
            return False
        op = f"merge_branch:{self.name}"
        return any(
            int(v) > pv and e.get("op") == op
            for v, e in pm.get("versions", {}).items()
        )

    def _heal_merged(self, m: dict) -> None:
        """Persist the lost merged=True marker (best-effort — detection
        keeps working even if this commit loses a race)."""
        try:
            m2 = self._load()
            if not m2.get("merged"):
                m2["merged"] = True
                self._mf._commit(m2)
        except Exception:
            pass

    def _check_open(self, m: dict) -> None:
        if m.get("merged"):
            raise ValueError(f"{self.path}: branch already merged — discard it")
        if self._merge_completed(m):
            self._heal_merged(m)
            raise ValueError(
                f"{self.path}: branch already merged (marker recovered from "
                "parent history) — discard it"
            )

    def tables(self) -> dict:
        return {n: dict(e) for n, e in self._entry().items()}

    # -- reads ----------------------------------------------------------------
    def read(self, name: str, ranges: dict | None = None) -> DataFrame:
        """Read through the branch pin: parent-origin tables resolve at
        their pinned (immutable) parent versions — later parent commits
        are invisible; local tables resolve in branch storage."""
        m = self._load()
        ent = self._entry(m).get(name)
        if ent is None:
            raise ValueError(f"{self.path}: no table {name!r} in branch")
        if ent["origin"] == "parent":
            return self.parent.table(name).read(version=ent["v"], ranges=ranges)
        # local tables: a crash-window merge (parent swap landed, marker
        # lost) renamed the local partition dirs into parent storage —
        # detect it and fail with the truth, not a missing-path read
        if self._merge_completed(m):
            self._heal_merged(m)
            raise ValueError(
                f"{self.path}: branch already merged (marker recovered from "
                "parent history) — read from the parent, then discard it"
            )
        return SnapshotTable(self.spark, self._table_path(name)).read(
            version=ent["v"], ranges=ranges
        )

    # -- copy-on-write fork ----------------------------------------------------
    def _fork(self, name: str, m: dict) -> SnapshotTable:
        """Materialize a branch-local SnapshotTable for an inherited
        table: version 0 re-links the parent's pinned partition dirs by
        RELATIVE path (no data copy); subsequent mutations rewrite only
        touched partitions into branch-local files (the carry-forward
        keeps parent-reaching refs as-is). The recorded `base` parent
        version is what parent vacuum must keep alive."""
        ent = self._entry(m)[name]
        if ent["origin"] == "local":
            return SnapshotTable(self.spark, self._table_path(name))
        base_v = int(ent["v"])
        pt = self.parent.table(name)
        pm = pt._load()
        ventry = pm["versions"][str(base_v)]
        local = self._table_path(name)
        os.makedirs(local, exist_ok=True)
        rel_parts = {
            pv: os.path.relpath(os.path.join(pt.path, rel), local)
            for pv, rel in ventry["partitions"].items()
        }
        # schema JSON in effect at the pinned version (same walk as
        # SnapshotTable._schema_at, kept as JSON for the new manifest)
        js = None
        for vv in sorted((int(k) for k in pm["versions"]), reverse=True):
            if vv <= base_v and "schema" in pm["versions"][str(vv)]:
                js = pm["versions"][str(vv)]["schema"]
                break
        if js is None:
            js = pm.get("schema")
        lm = {
            "key_cols": pm["key_cols"],
            "partition_col": pm["partition_col"],
            "current": -1,
            "versions": {},
        }
        t = SnapshotTable(self.spark, local)
        t._publish(
            lm, f"branch_base:v{base_v}", rel_parts, ventry.get("files", {}),
            stats=ventry.get("stats", {}), **({"schema": js} if js is not None else {}),
        )
        return t

    def _advance(self, m: dict, op: str, tables: dict,
                 txn: tuple[str, int] | None = None) -> None:
        rv, rs = m["current"], self._mf._seq(m)
        version = rv + 1
        m["versions"][str(version)] = {"op": op, "tables": tables}
        m["current"] = version
        if txn is not None:
            # per-sink replay watermark, committed ATOMICALLY with the
            # pin advance (same contract as SnapshotTable.merge_upsert)
            m.setdefault("txns", {})[txn[0]] = int(txn[1])
        self._mf._commit(m, expected_current=rv, expected_seq=rs)

    def last_txn(self, sink_id: str) -> int:
        """Last batch id a sink committed INTO THIS BRANCH (-1 when
        none) - the exactly-once watermark for write-audit-publish
        streaming (streaming/sink.BranchUpsertSink)."""
        return int(self._load().get("txns", {}).get(sink_id, -1))

    def _mutate(self, name: str, op: str, fn,
                txn: tuple[str, int] | None = None) -> int:
        m = self._load()
        self._check_open(m)
        if txn is not None and txn[1] <= int(m.get("txns", {}).get(txn[0], -1)):
            return int(self._entry(m)[name]["v"])  # replayed batch: no-op
        if name not in self._entry(m):
            raise ValueError(f"{self.path}: no table {name!r} in branch")
        t = self._fork(name, m)
        new_tv = fn(t)
        tables = {n: dict(e) for n, e in self._entry(m).items()}
        base = (
            int(tables[name]["v"])
            if tables[name]["origin"] == "parent"
            else int(tables[name].get("base", -1))
            if tables[name].get("base") is not None
            else None
        )
        tables[name] = {"v": int(new_tv), "origin": "local", "base": base}
        self._advance(m, f"{op}:{name}", tables, txn=txn)
        return int(new_tv)

    # -- mutations (each one branch-manifest commit) ----------------------------
    def merge_upsert(
        self, name: str, updates: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        return self._mutate(
            name, "merge_upsert", lambda t: t.merge_upsert(updates), txn=txn
        )

    def update_where(self, name: str, predicate: Column, assignments: dict) -> int:
        return self._mutate(
            name, "update_where", lambda t: t.update_where(predicate, assignments)
        )

    def delete_where(self, name: str, predicate: Column) -> int:
        return self._mutate(name, "delete_where", lambda t: t.delete_where(predicate))

    def create_table(
        self,
        name: str,
        df: DataFrame,
        key_cols: list[str],
        partition_col: str | None = None,
    ) -> SnapshotTable:
        m = self._load()
        self._check_open(m)
        if name in self._entry(m):
            raise ValueError(f"{self.path}: table {name!r} already exists in branch")
        if name in self.parent._pins(self.parent._load()):
            # the merge would have to name-publish it into the parent;
            # refuse NOW, not at merge time
            raise ValueError(
                f"{self.path}: table {name!r} exists in the parent — "
                "branch-created names must be fresh"
            )
        local = self._table_path(name)
        if os.path.exists(local):
            raise ValueError(f"{self.path}: table directory {name!r} already held")
        t = SnapshotTable.create(self.spark, local, df, key_cols, partition_col)
        tables = {n: dict(e) for n, e in self._entry(m).items()}
        tables[name] = {"v": 0, "origin": "local", "base": None}
        self._advance(m, f"create_table:{name}", tables)
        return t

    def drop_table(self, name: str) -> None:
        m = self._load()
        self._check_open(m)
        tables = {n: dict(e) for n, e in self._entry(m).items()}
        if name not in tables:
            raise ValueError(f"{self.path}: no table {name!r} in branch")
        tables.pop(name)
        self._advance(m, f"drop_table:{name}", tables)

    # -- merge -------------------------------------------------------------------
    def _cumulative_rewrites(self, tm: dict, lo: int, hi: int):
        """(rewritten partition set, merged update-key hulls) across
        table versions (lo, hi]. Prefers the per-version walk
        (_foreign_descriptors — also yields key hulls); when vacuum
        dropped intermediate versions it falls back to an ENDPOINT
        DIFF of the two entries' partition maps, which is still EXACT
        at partition granularity because refs are immutable
        copy-on-write (a partition's directory ref changes iff some
        commit rewrote it) — a long-lived branch stays mergeable
        across parent GC. The fallback reports NO key hulls (partial
        history can't prove key disjointness, and recording an
        under-hull could wrongly exonerate a future read-set check).
        (None, None) = genuinely unknown (endpoint vacuumed, or the
        schema changed across the span) — the caller cancels, same
        rule as transaction rebase."""
        from herodb_spark.sources.database import _foreign_descriptors

        descs = _foreign_descriptors(tm, lo, hi)
        if descs is not None:
            parts: set = set()
            hulls: dict = {}
            for d in descs:
                parts |= d["parts"]
                for pv, kr in (d["key_ranges"] or {}).items():
                    cur = hulls.setdefault(pv, {})
                    for c, (mn, mx) in kr.items():
                        omn, omx = cur.get(c, (None, None))
                        cur[c] = [
                            mn if omn is None else omn if mn is None else min(mn, omn),
                            mx if omx is None else omx if mx is None else max(mx, omx),
                        ]
            return parts, hulls
        a = tm["versions"].get(str(lo))
        b = tm["versions"].get(str(hi))
        if a is None or b is None:
            return None, None
        sa = SnapshotTable._schema_at(tm, lo)
        sb = SnapshotTable._schema_at(tm, hi)
        if (sa is None) != (sb is None) or (
            sa is not None and sa.json() != sb.json()
        ):
            return None, None  # schema evolved across the span
        pa, pb = a["partitions"], b["partitions"]
        parts = {pv for pv in set(pa) | set(pb) if pa.get(pv) != pb.get(pv)}
        return parts, {}

    def merge(self) -> dict:
        """Publish the branch into the parent: fast-forward tables only
        the branch changed, three-way-overlay tables both sides changed
        in provably DISJOINT partitions, adopt branch-created tables
        (name-published under the parent's commit lock, like
        create_table), propagate inherited-table drops — all in ONE
        atomic parent-manifest swap, seq-fenced from merge start.
        Conflicts cancel with MergeConflict and leave the branch
        intact; a swap lost to an interleaved parent commit undoes the
        adopted table versions and directory moves before raising (the
        parent is never left half-merged). Returns a per-table action
        report."""
        m = self._load()
        self._check_open(m)
        pm = self.parent._load()
        rv, rseq = pm["current"], self.parent._mf._seq(pm)
        ppins = dict(self.parent._pins(pm))
        base_tables = m["versions"]["0"]["tables"]
        head_tables = self._entry(m)
        report: dict[str, str] = {}
        new_pins = dict(ppins)

        # ---- plan (manifest-only checks; nothing mutated yet) ----
        plan: list[tuple] = []  # (kind, name, payload)
        for name in sorted(set(base_tables) - set(head_tables)):
            # branch dropped an inherited table
            base_v = int(base_tables[name]["v"])
            if name not in ppins:
                report[name] = "drop (parent already dropped)"
                continue
            if int(ppins[name]) != base_v:
                raise MergeConflict(
                    f"{self.path}: branch dropped {name!r} but the parent "
                    f"advanced it ({base_v} -> {ppins[name]}) — cancelling"
                )
            plan.append(("drop", name, None))
        for name, ent in sorted(head_tables.items()):
            if ent["origin"] == "parent":
                report[name] = "untouched"
                continue
            if ent.get("base") is None:
                # branch-created table
                if name in ppins or os.path.exists(self.parent._table_path(name)):
                    raise MergeConflict(
                        f"{self.path}: branch-created table {name!r} now "
                        "collides with a parent table/directory — cancelling"
                    )
                plan.append(("adopt_new", name, int(ent["v"])))
                continue
            base_v = int(ent["base"])
            if name not in ppins:
                raise MergeConflict(
                    f"{self.path}: branch changed {name!r} but the parent "
                    "dropped it — cancelling"
                )
            parent_v = int(ppins[name])
            bt = SnapshotTable(self.spark, self._table_path(name))
            btm = bt._load()
            br_parts, br_hulls = self._cumulative_rewrites(btm, 0, int(ent["v"]))
            if br_parts is None:
                raise MergeConflict(
                    f"{self.path}: {name!r} changed schema on the branch — "
                    "schema-evolving merges are not overlay-able, cancelling"
                )
            if parent_v == base_v:
                plan.append(("fast_forward", name, (bt, btm, int(ent["v"]), br_parts, br_hulls)))
                continue
            pt = self.parent.table(name)
            ptm = pt._load()
            pp_parts, _ = self._cumulative_rewrites(ptm, base_v, parent_v)
            if pp_parts is None:
                raise MergeConflict(
                    f"{self.path}: parent history of {name!r} since the "
                    "branch point is unknown (vacuumed or schema-changed) — "
                    "cancelling"
                )
            overlap = br_parts & pp_parts
            if overlap:
                raise MergeConflict(
                    f"{self.path}: both sides rewrote partitions "
                    f"{sorted(overlap, key=str)} of {name!r} "
                    f"(branch: {sorted(br_parts, key=str)}, parent: "
                    f"{sorted(pp_parts, key=str)}) — cancelling, rework the "
                    "branch on fresh parent state"
                )
            plan.append(("overlay", name, (bt, btm, int(ent["v"]), br_parts, br_hulls)))

        # ---- execute: adopt diverged-table versions into the parent ----
        # Advertise a live commit intent (like a transaction) so a
        # concurrent transaction arbitrates/defers against the merge
        # instead of healing its table versions as orphans.
        intent_id = f"merge-{self.name}-{uuid.uuid4().hex[:8]}"
        os.makedirs(self.parent._intent_dir(), exist_ok=True)
        intent_path = os.path.join(self.parent._intent_dir(), f"{intent_id}.json")
        moves: list[tuple[str, str]] = []  # (src, dst) executed renames
        table_undo: list[tuple[SnapshotTable, int]] = []  # rollback targets

        def _undo() -> None:
            for t, prev in reversed(table_undo):
                try:
                    t.rollback(prev)
                except Exception:
                    pass  # recovery heals tables ahead of the pin
            for src, dst in reversed(moves):
                try:
                    os.rename(dst, src)
                except OSError:
                    pass

        try:
            with open(intent_path, "w") as f:
                json.dump({"txn_id": intent_id, "cost": 1 << 30, "tables": {}}, f)
            for kind, name, payload in plan:
                if kind == "drop":
                    new_pins.pop(name, None)
                    report[name] = "drop"
                    continue
                if kind == "adopt_new":
                    report[name] = "adopt"
                    continue  # name-publish happens under the swap lock
                bt, btm, head_v, br_parts, br_hulls = payload
                pt = self.parent.table(name)
                ptm = pt._load()
                prev_cur = ptm["current"]
                if prev_cur != int(ppins[name]):
                    # the member table's own head ran ahead of the
                    # database pin: an in-flight transaction holds an
                    # unpublished private version — defer by cancelling
                    # (the transaction layer's arbitration owns that
                    # state, not the merge)
                    raise MergeConflict(
                        f"{self.path}: {name!r} is held by an in-flight "
                        "transaction — retry the merge after it settles"
                    )
                next_v = prev_cur + 1
                head_entry = btm["versions"][str(head_v)]
                if kind == "fast_forward":
                    # parent untouched since the branch point: adopt the
                    # branch head's whole map
                    new_map = dict(head_entry["partitions"])
                    files = dict(head_entry.get("files", {}))
                    stats = dict(head_entry.get("stats", {}))
                    translate = set(new_map)
                else:
                    # three-way overlay: the PARENT's current map is the
                    # base — partitions the branch didn't rewrite keep
                    # the parent's (possibly newer-than-branch-point)
                    # content; only the branch's rewritten partitions
                    # overlay it (the pre-checked disjointness makes
                    # this lossless on both sides)
                    pentry = ptm["versions"][str(prev_cur)]
                    new_map = dict(pentry["partitions"])
                    files = dict(pentry.get("files", {}))
                    stats = dict(pentry.get("stats", {}))
                    for pv in br_parts:
                        if pv in head_entry["partitions"]:
                            new_map[pv] = head_entry["partitions"][pv]
                            bf = head_entry.get("files", {}).get(pv)
                            if bf is not None:
                                files[pv] = bf
                            bs = head_entry.get("stats", {}).get(pv)
                            if bs is not None:
                                stats[pv] = bs
                            else:
                                stats.pop(pv, None)
                        else:  # the branch dropped this partition
                            new_map.pop(pv, None)
                            files.pop(pv, None)
                            stats.pop(pv, None)
                    translate = {pv for pv in br_parts if pv in new_map}
                vdir = f"v={next_v}-{uuid.uuid4().hex[:8]}"
                made_vdir = False
                for pv in sorted(translate, key=str):
                    rel = new_map[pv]
                    src_abs = os.path.normpath(os.path.join(bt.path, rel))
                    if rel.startswith("data/"):
                        # branch-local rewrite: adopt by rename
                        if not made_vdir:
                            os.makedirs(os.path.join(pt.path, "data", vdir), exist_ok=True)
                            made_vdir = True
                        leaf = os.path.basename(rel.rstrip("/"))
                        dst_rel = f"data/{vdir}/{leaf}"
                        dst_abs = os.path.join(pt.path, dst_rel)
                        os.rename(src_abs, dst_abs)
                        moves.append((src_abs, dst_abs))
                        new_map[pv] = dst_rel
                    elif not rel.startswith(".."):
                        pass  # already parent-coordinate (overlay base)
                    else:
                        # parent-reaching carry-forward: back to parent coords
                        new_map[pv] = os.path.relpath(src_abs, pt.path)
                pt._publish(
                    ptm, f"merge_branch:{self.name}", new_map, files, stats=stats,
                    key_ranges={
                        pv: kr for pv, kr in br_hulls.items() if pv in br_parts
                    } if br_hulls else None,
                )
                table_undo.append((pt, prev_cur))
                new_pins[name] = next_v
                report[name] = kind

            # ---- one atomic parent swap (branch-created tables are
            # name-published inside the critical section, exactly the
            # create_table protocol) ----
            adopt_renames = [
                (self._table_path(name), self.parent._table_path(name), name, int(v))
                for kind, name, v in plan
                if kind == "adopt_new"
            ]

            def _publish() -> None:
                for src, dst, name, _ in adopt_renames:
                    if os.path.exists(dst):
                        raise MergeConflict(
                            f"{self.parent.path}: table directory {name!r} "
                            "appeared during the merge — cancelling"
                        )
                    os.rename(src, dst)
                    moves.append((src, dst))

            for _, _, name, v in adopt_renames:
                new_pins[name] = v
            version = rv + 1
            pm["versions"][str(version)] = {
                "op": f"merge_branch:{self.name}",
                "tables": new_pins,
            }
            pm["current"] = version
            try:
                self.parent._mf._commit(
                    pm, expected_current=rv, expected_seq=rseq, pre_install=_publish
                )
            except ConcurrentWriteError as e:
                raise MergeConflict(
                    f"{self.path}: parent advanced during the merge — "
                    f"cancelled cleanly, retry ({e})"
                ) from e
        except BaseException:
            _undo()
            try:
                os.unlink(intent_path)
            except OSError:
                pass
            raise
        try:
            os.unlink(intent_path)
        except OSError:
            pass
        m2 = self._load()
        m2["merged"] = True
        self._mf._commit(m2)
        return report
