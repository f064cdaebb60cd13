"""Python Data Source (Spark 4 `pyspark.sql.datasource` API) for
snapshot tables: `spark.read.format("herodb")` batch scans with time
travel, batch change-feed reads, and `spark.readStream.format(
"herodb")` — the TABLE-AS-A-STREAM pattern lakehouse formats expose
(a durable table's commit history consumed as a structured stream).

Why a data source and not just `SnapshotTable.read()`: the reader API
is the integration surface OTHER tools speak. Registering the format
makes snapshot tables consumable by plain `spark.read`/`readStream`
pipelines (SQL `CREATE TABLE ... USING` style workflows, streaming
joins against live tables) with no herodb imports at the call site —
the reference's storage engine is similarly reachable through its
generic query interface rather than only through internal handles
(reference: Kernel/Source interface split).

Scale notes:
- batch scans plan ONE InputPartition PER PARQUET FILE of the pinned
  version — the natural parallel unit of the copy-on-write layout
  (compact() governs file granularity, so task sizing is a storage-
  maintenance knob exactly as in lakehouse formats). Workers stream
  Arrow RECORD BATCHES (pyarrow scan → zero-copy into Spark), never
  python rows.
- the change feed plans one InputPartition per (commit, changed
  partition-value): the copy-on-write layout proves unchanged
  partition values identical from the MANIFEST alone, so stream work
  is ∝ changed data per commit, not table size. Each task diffs one
  partition value of one commit — bounded by what that commit
  actually rewrote.
- offsets are manifest versions: resuming a checkpointed stream is a
  pure manifest lookup; `commit()` needs no bookkeeping because
  versions are immutable.

Semantics (documented deltas from `SnapshotTable.read_changes`, which
remains the JVM-side batch CDC joiner; for one commit the two feeds
agree row for row, a partition move included):
- the stream's schema is fixed at query start (the version-`current`
  schema). Columns added later by `add_columns` appear after a
  restart, matching lakehouse CDF streaming behavior.
- vacuumed versions cannot be replayed; starting (or resuming) below
  the oldest retained version raises with the retained range.
"""

from __future__ import annotations

import json
import os
import urllib.parse
import weakref
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_CHANGE_COLS = (("_change", "string"), ("_commit_version", "long"))


# -- manifest helpers (driver side; plain filesystem + json) -------------
def _load_manifest(path: str) -> dict:
    with open(os.path.join(path, "_manifest.json")) as f:
        return json.load(f)


def _schema_at(m: dict, v: int) -> StructType:
    """Delegates to SnapshotTable's schema-resolution rule (single
    source of truth); the connector additionally REQUIRES a manifest
    schema — it cannot fall back to file inference."""
    from herodb_spark.sources.snapshot import SnapshotTable

    schema = SnapshotTable._schema_at(m, v)
    if schema is None:
        raise ValueError("snapshot table pre-dates manifest schemas; cannot infer")
    return schema


def _version_entry(m: dict, v: int, path: str) -> dict:
    entry = m["versions"].get(str(v))
    if entry is None:
        have = sorted(int(k) for k in m["versions"])
        raise ValueError(
            f"{path}: no version {v}"
            + (f" (vacuumed; retained versions {have[0]}..{have[-1]})" if have and v < have[0] else "")
        )
    return entry


def _cdc_struct(base: StructType) -> StructType:
    out = StructType.fromJson(base.jsonValue())
    for name, typ in _CHANGE_COLS:
        out = out.add(name, typ)
    return out


# -- worker-side arrow plumbing ------------------------------------------
def _arrow_schema(schema_json: str):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(StructType.fromJson(json.loads(schema_json)))


def _conform(table, target):
    """Project/cast an arrow table onto the target schema: files
    written before a schema evolution lack the added columns (surface
    NULL), and physical types (e.g. int32 stats-less writers) cast to
    the manifest type — the same conformance `SnapshotTable.read`
    gets from Spark's schema-applied parquet scan."""
    import pyarrow as pa

    cols = {}
    for field in target:
        if field.name in table.column_names:
            col = table.column(field.name)
            if col.type != field.type:
                col = col.cast(field.type)
            cols[field.name] = col
        else:
            cols[field.name] = pa.nulls(table.num_rows, field.type)
    return pa.table(cols, schema=target)


def _read_dir(path: str, target) -> "pa.Table":  # noqa: F821
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    import pyarrow as pa

    if not files:
        return pa.table({f.name: pa.nulls(0, f.type) for f in target}, schema=target)
    return _conform(pa.concat_tables([pq.read_table(f) for f in files], promote_options="permissive"), target)


# -- batch snapshot scan ---------------------------------------------------
class _FilePartition(InputPartition):
    def __init__(self, files: list[str], schema_json: str, row_groups: list[int] | None = None):
        #: parquet files this task reads (several small files pack
        #: into one task; exactly one when row_groups is set)
        self.files = files
        self.schema_json = schema_json
        #: None = whole file(s); else the row-group indices of files[0]
        self.row_groups = row_groups


#: a parquet file above this size is split into per-row-group tasks so
#: a compacted partition (ONE large file by design) does not serialize
#: onto one task; files BELOW it pack together into tasks up to this
#: size — the connector's analog of maxPartitionBytes in both
#: directions (a 32-core writer leaves ~32 small files per partition;
#: one Python task each would pay 32 worker round-trips for kilobytes)
_SPLIT_FILE_BYTES = 128 * 1024 * 1024
#: minimum useful task payload — Spark's openCostInBytes analog; the
#: pack target never drops below this even on many-core boxes
_OPEN_COST_BYTES = 4 * 1024 * 1024


def _ranges_from_filters(filters) -> dict:
    """{col: (lo, hi)} conjunctive bounds from Spark's pushed filters
    — only shapes zone maps can use. Bounds are INCLUSIVE and strict
    comparisons are relaxed to inclusive (conservative: skips less,
    never more); Spark re-applies every filter row-level regardless
    (we report them all back as unhandled), so pruning here is purely
    an IO optimization — exactly the SnapshotTable.read(ranges=...)
    contract."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    out: dict = {}

    def tighten(col, lo, hi):
        c_lo, c_hi = out.get(col, (None, None))
        if lo is not None and (c_lo is None or lo > c_lo):
            c_lo = lo
        if hi is not None and (c_hi is None or hi < c_hi):
            c_hi = hi
        out[col] = (c_lo, c_hi)

    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, EqualTo) and f.value is not None:
            tighten(col, f.value, f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and f.value is not None:
            tighten(col, f.value, None)
        elif isinstance(f, (LessThan, LessThanOrEqual)) and f.value is not None:
            tighten(col, None, f.value)
        elif isinstance(f, In) and f.value and all(v is not None for v in f.value):
            try:
                tighten(col, min(f.value), max(f.value))
            except TypeError:
                continue
    return out


class _SnapshotReader(DataSourceReader):
    def __init__(
        self,
        path: str,
        version: int,
        split_bytes: int = _SPLIT_FILE_BYTES,
        parallelism: int | None = None,
    ):
        self.path = path
        self.split_bytes = split_bytes
        #: pack-target divisor (Spark's bytesPerCore); defaults to the
        #: local core count — set the scanParallelism option to the
        #: cluster's total cores when running distributed
        self.parallelism = parallelism or (os.cpu_count() or 8)
        m = _load_manifest(path)
        self.version = version
        self.entry = _version_entry(m, self.version, path)
        self.schema_json = _schema_at(m, self.version).json()
        self._pstats = self.entry.get("stats", {})
        self._fstats = m.get("file_stats", {})
        self._ranges: dict = {}

    def pushFilters(self, filters):
        """Zone-map pushdown for the connector (Spark 4.1 filter
        pushdown API): comparison/equality/In conjuncts become
        {col: (lo, hi)} ranges that prune PARTITION VALUES via the
        manifest's per-partition stats and FILES via cluster()'s
        per-file zone maps — the same manifest-only skipping the
        native read(ranges=...) path does, now reachable from plain
        `spark.read.format("herodb").load().where(...)`. Every filter
        is yielded back (Spark re-applies them row-level): skipping
        is an IO optimization, never a predicate."""
        self._ranges = _ranges_from_filters(filters)
        yield from filters

    def partitions(self) -> Sequence[InputPartition]:
        import pyarrow.parquet as pq

        from herodb_spark.sources.snapshot import SnapshotTable

        skippable = SnapshotTable._skippable
        singles: list[_FilePartition] = []  # row-group tasks
        small: list[tuple[str, int]] = []  # (path, size) to pack
        for pv, rel in self.entry["partitions"].items():
            if self._ranges and skippable(self._pstats.get(pv, {}), self._ranges):
                continue  # partition's zone maps prove no match
            d = os.path.join(self.path, rel)
            per_file = self._fstats.get(rel) if self._ranges else None
            for f in sorted(os.listdir(d)):
                if not f.endswith(".parquet"):
                    continue
                if per_file is not None and f in per_file and skippable(
                    per_file[f], self._ranges
                ):
                    continue  # file's zone maps prove no match
                fp = os.path.join(d, f)
                size = os.path.getsize(fp)
                if size <= self.split_bytes:
                    small.append((fp, size))
                    continue
                # one footer read per oversized file (the same IO
                # Spark's own scan planning pays), then one task per
                # row group
                n = pq.ParquetFile(fp).metadata.num_row_groups
                singles.extend(
                    _FilePartition([fp], self.schema_json, row_groups=[g])
                    for g in range(n)
                )
        # pack small files into right-sized tasks — Spark's own
        # maxSplitBytes formula: min(maxPartitionBytes,
        # max(openCost, totalBytes/parallelism)), so a small table
        # still fans out across cores while a huge one packs to
        # ~128 MB per Python worker round-trip
        total = sum(sz for _, sz in small)
        per_core = total // max(1, self.parallelism) + 1
        target = min(self.split_bytes, max(_OPEN_COST_BYTES, per_core))
        out = singles
        bin_files: list[str] = []
        bin_bytes = 0
        for fp, size in small:
            if bin_files and bin_bytes + size > target:
                out.append(_FilePartition(bin_files, self.schema_json))
                bin_files, bin_bytes = [], 0
            bin_files.append(fp)
            bin_bytes += size
        if bin_files:
            out.append(_FilePartition(bin_files, self.schema_json))
        return out

    def read(self, partition: _FilePartition) -> Iterator:
        if partition is None:  # empty partitions() → one task, no split
            return
        import pyarrow.parquet as pq

        target = _arrow_schema(partition.schema_json)
        rg = getattr(partition, "row_groups", None)
        # read each file's row groups as ONE vectorized Arrow table —
        # not a per-64k-batch Python loop — and conform ONLY when the
        # physical file schema differs from the manifest schema (the
        # no-evolution common case skips the projection entirely);
        # to_batches() then yields zero-copy row-group-sized slices
        want = {f.name for f in target}
        for fp in partition.files:
            pf = pq.ParquetFile(fp)
            # projection reaches the parquet reader: only requested
            # columns are decoded (the `columns` option narrows
            # target; evolution-missing columns conform to NULL)
            cols = [n for n in pf.schema_arrow.names if n in want]
            if rg is None:
                table = pf.read(columns=cols)
            else:
                table = pf.read_row_groups(rg, columns=cols)
            if not table.schema.equals(target):
                table = _conform(table, target)
            yield from table.to_batches()


# -- change-feed diff (shared by batch CDC + streaming) -------------------
class _ChangesPartition(InputPartition):
    def __init__(
        self,
        old_dir: str | None,
        new_dir: str | None,
        keys: list[str],
        schema_json: str,
        commit_version: int,
    ):
        self.old_dir = old_dir
        self.new_dir = new_dir
        self.keys = keys
        self.schema_json = schema_json
        self.commit_version = commit_version


def _changed_partition_values(m: dict, v_from: int, v_to: int, path: str) -> dict:
    """{partition_value: (old_rel_dir | None, new_rel_dir | None)} for
    partition values whose directories differ — identical directory ⇒
    identical bytes ⇒ no change possible (manifest-only pruning)."""
    p_from = {} if v_from < 0 else _version_entry(m, v_from, path)["partitions"]
    p_to = _version_entry(m, v_to, path)["partitions"]
    return {
        pv: (p_from.get(pv), p_to.get(pv))
        for pv in sorted(set(p_from) | set(p_to))
        if p_from.get(pv) != p_to.get(pv)
    }


def _plan_change_partitions(
    m: dict, path: str, v_from: int, v_to: int, schema_json: str
) -> list["_ChangesPartition"]:
    """One task per (commit, changed partition value) over the window
    (v_from, v_to] — shared by the batch CDC reader and the stream
    reader so the planning rules (per-commit stepping, vacuumed-
    version errors, the key set each commit diffs on, refused across
    a key-set migration like `read_changes`) cannot diverge."""
    from herodb_spark.sources.snapshot import SnapshotTable

    out: list[_ChangesPartition] = []
    for v in range(v_from + 1, v_to + 1):
        keys = SnapshotTable._window_keys(m, v - 1, v, path)
        for pv, (od, nd) in _changed_partition_values(m, v - 1, v, path).items():
            out.append(
                _ChangesPartition(
                    None if od is None else os.path.join(path, od),
                    None if nd is None else os.path.join(path, nd),
                    keys,
                    schema_json,
                    v,
                )
            )
    return out


def _diff_batches(partition: _ChangesPartition | None) -> Iterator:
    """Worker-side diff of ONE partition value across one commit,
    emitted as arrow batches on the CDC schema. Fast path: a fully
    vectorized Arrow hash join + columnar null-safe comparison
    (_diff_arrow); tables whose payload types Acero cannot join
    (nested arrays/structs) fall back to a key-indexed python-dict
    diff. Either way the input is bounded by what the commit rewrote
    in this partition value (the copy-on-write unit), never table
    size."""
    if partition is None:  # empty partitions() → one task, no split
        return
    import pyarrow as pa

    base = StructType.fromJson(json.loads(partition.schema_json))
    target = _arrow_schema(_cdc_struct(base).json())
    data_target = _arrow_schema(partition.schema_json)

    def side(d):
        if d is None:
            return pa.table(
                {f.name: pa.nulls(0, f.type) for f in data_target}, schema=data_target
            )
        return _read_dir(d, data_target)

    old_t, new_t = side(partition.old_dir), side(partition.new_dir)
    keys = list(partition.keys)
    data_cols = [c for c in data_target.names if c not in keys]
    try:
        yield from _diff_arrow(
            old_t, new_t, keys, data_cols, data_target, target, partition.commit_version
        )
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        yield from _diff_pydict(old_t, new_t, keys, target, partition.commit_version)


def _diff_arrow(old_t, new_t, keys, data_cols, data_target, target, version) -> Iterator:
    """Vectorized CDC diff: full-outer Acero join on the key columns
    with explicit presence flags (a NULL payload is not absence),
    then a columnar null-safe equality across payload columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = old_t.append_column("__op", pa.array([True] * old_t.num_rows, pa.bool_()))
    n = new_t.append_column("__np", pa.array([True] * new_t.num_rows, pa.bool_()))
    j = o.join(n, keys=keys, join_type="full outer", left_suffix="__old", right_suffix="__new")
    present_o = pc.is_valid(j["__op"])
    present_n = pc.is_valid(j["__np"])

    def emit(mask, suffix, change):
        sel = j.filter(mask)
        if sel.num_rows == 0:
            return None
        cols = {}
        for f in data_target:
            name = f.name if f.name in keys else f"{f.name}{suffix}"
            col = sel[name] if name in sel.column_names else sel[f.name]
            cols[f.name] = col
        cols["_change"] = pa.array([change] * sel.num_rows, pa.string())
        cols["_commit_version"] = pa.array([version] * sel.num_rows, pa.int64())
        return pa.table(cols, schema=target)

    out = [
        emit(pc.and_(present_n, pc.invert(present_o)), "__new", "insert"),
        emit(pc.and_(present_o, pc.invert(present_n)), "__old", "delete"),
    ]
    both = pc.and_(present_o, present_n)
    if data_cols and j.num_rows:
        same_all = pa.array([True] * j.num_rows, pa.bool_())
        for c in data_cols:
            a = j[f"{c}__old"] if f"{c}__old" in j.column_names else j[c]
            b = j[f"{c}__new"] if f"{c}__new" in j.column_names else j[c]
            eq = pc.fill_null(pc.equal(a, b), False)
            both_null = pc.and_(pc.is_null(a), pc.is_null(b))
            same_all = pc.and_(same_all, pc.or_(eq, both_null))
        upd = pc.and_(both, pc.invert(same_all))
        out.append(emit(upd, "__old", "update_pre"))
        out.append(emit(upd, "__new", "update_post"))
    out = [t for t in out if t is not None]
    if out:
        yield from pa.concat_tables(out).to_batches()


def _diff_pydict(old_t, new_t, keys, target, version) -> Iterator:
    """Fallback diff for payload types Acero cannot join (nested
    arrays/structs): key-indexed row maps, python equality."""
    import pyarrow as pa

    def index(tbl):
        return {tuple(r[k] for k in keys): r for r in tbl.to_pylist()}

    old, new = index(old_t), index(new_t)
    out: list[dict] = []

    def emit(row: dict, change: str):
        r = dict(row)
        r["_change"] = change
        r["_commit_version"] = version
        out.append(r)

    for k, row in new.items():
        if k not in old:
            emit(row, "insert")
        elif old[k] != row:
            emit(old[k], "update_pre")
            emit(row, "update_post")
    for k, row in old.items():
        if k not in new:
            emit(row, "delete")
    if out:
        yield from pa.Table.from_pylist(out, schema=target).to_batches()


class _ChangesReader(DataSourceReader):
    """Batch form: all changes between two pinned versions, one task
    per (commit, changed partition value)."""

    def __init__(self, path: str, v_from: int, v_to: int):
        self.path = path
        m = self._m = _load_manifest(path)
        self.v_from = v_from
        self.v_to = v_to
        self.schema_json = _schema_at(m, self.v_to).json()

    def partitions(self) -> Sequence[InputPartition]:
        return _plan_change_partitions(
            self._m, self.path, self.v_from, self.v_to, self.schema_json
        )

    def read(self, partition: _ChangesPartition) -> Iterator:
        yield from _diff_batches(partition)


class _ChangesStreamReader(DataSourceStreamReader):
    """Streaming form: offsets are manifest versions; each micro-batch
    covers the commits between two manifest reads."""

    def __init__(self, path: str, starting: str | None):
        self.path = path
        m = _load_manifest(path)
        self.schema_json = _schema_at(m, m["current"]).json()
        # offsets are LAST-CONSUMED manifest versions: a batch (start, end]
        # delivers the commits start+1..end. startingVersion=N is INCLUSIVE
        # (deliver version N's changes onward, the lakehouse CDF convention),
        # so it maps to offset N-1. The previous `int(starting)` marked
        # version N itself as already consumed — usually masked because the
        # first poll's latestOffset (N-1 at stream start) regressed the
        # offset before any commit, but a commit landing before that first
        # poll was swallowed forever (the streaming-MV suite flake).
        if starting is None:
            self._initial = -1  # full history: v0 arrives as inserts
        elif starting == "latest":
            self._initial = m["current"]
        else:
            self._initial = int(starting) - 1

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        return {"version": _load_manifest(self.path)["current"]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        v0, v1 = start["version"], end["version"]
        if v1 <= v0:
            return []
        m = _load_manifest(self.path)
        return _plan_change_partitions(m, self.path, v0, v1, self.schema_json)

    def read(self, partition: _ChangesPartition) -> Iterator:
        yield from _diff_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # versions are immutable; nothing to acknowledge

    def stop(self) -> None:
        pass


# -- batch overwrite writer -------------------------------------------------
class _OverwriteCommit(WriterCommitMessage):
    def __init__(self, files: dict):
        #: {pv: n_files_written}
        self.files = files


class _OverwriteWriter(DataSourceWriter):
    """`df.write.format("herodb").mode("overwrite")` — INSERT
    OVERWRITE as a two-phase commit, the shape the writer API was
    built for: executors stage parquet files into a writer-unique
    version directory (one file per (task, partition value)), and the
    driver-side commit publishes them through the same version-entry
    builder and OCC validate-then-swap as every native mutation
    (`SnapshotTable._publish`) — a table that advanced mid-job raises
    ConcurrentWriteError and the staged files are unreferenced
    garbage for the next vacuum's orphan sweep (identical contract to
    an aborted merge).

    Zone maps come from the staged files' footers at commit. The
    commit runs in a Python worker without a SparkSession, so a
    partition whose footers cannot prove its bounds records no stats
    and is always scanned. Float/double columns are written WITHOUT
    parquet statistics: pyarrow's min/max ignore NaN, which Spark
    orders above every double, so those bounds would let both
    Spark's parquet pushdown and the zone maps drop NaN rows.

    Append mode is refused: snapshot tables are keyed, and a blind
    file append cannot honor merge-by-key semantics — use
    SnapshotTable.merge_upsert or the exactly-once foreachBatch sinks
    for incremental writes."""

    def __init__(self, path: str, schema: StructType):
        import uuid

        m = _load_manifest(path)
        table_schema = _schema_at(m, m["current"])
        want = {f.name: f.dataType for f in table_schema.fields}
        got = {f.name: f.dataType for f in schema.fields}
        if set(got) != set(want):
            raise ValueError(
                f"{path}: overwrite frame columns {sorted(got)} != table "
                f"schema {sorted(want)} (use add_columns to evolve)"
            )
        bad = sorted(n for n in want if got[n] != want[n])
        if bad:
            raise ValueError(
                f"{path}: overwrite column type mismatch for {bad}: "
                + ", ".join(f"{n}: {got[n].simpleString()}!={want[n].simpleString()}" for n in bad)
            )
        self.path = path
        self.schema_json = table_schema.json()
        self.pcol = m["partition_col"]
        if self.pcol is not None:
            # partition VALUES become manifest keys via Python str();
            # that matches Spark's cast('string') (the key derivation
            # every other mutation uses) only for integer and string
            # columns — a boolean would record 'True' vs the JVM's
            # 'true', a double '1e-07' vs '1.0E-7', silently forking
            # the partition under later merges. Refuse the rest; the
            # native overwrite() API handles any partition type.
            ptype = want[self.pcol].simpleString()
            if ptype not in ("tinyint", "smallint", "int", "bigint", "string"):
                raise ValueError(
                    f"{path}: the herodb writer supports integer/string partition "
                    f"columns only ({self.pcol!r} is {ptype}; its str() form would "
                    "diverge from the engine's cast-to-string partition keys — "
                    "use SnapshotTable.overwrite instead)"
                )
        # OCC expectations captured BEFORE any data moves
        self._read_version = m["current"]
        self._read_seq = int(m.get("seq", m["current"]))
        self.vdir = f"data/v={m['current'] + 1}-{uuid.uuid4().hex[:8]}"

    # executor side ---------------------------------------------------------
    def write(self, iterator) -> _OverwriteCommit:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        target = _arrow_schema(self.schema_json)
        with_stats = [f.name for f in target if not pa.types.is_floating(f.type)]
        files: dict = {}

        def flush(pv: str, rows: list) -> None:
            if pv == "__HERODB_NULL__":
                raise ValueError(
                    f"{self.path}: NULL or empty-string {self.pcol!r} values are not "
                    "supported as snapshot partition keys"
                )
            d = os.path.join(self.path, self.vdir, "__p=" + urllib.parse.quote(pv, safe=""))
            os.makedirs(d, exist_ok=True)
            name = f"part-{uuid.uuid4().hex[:12]}.parquet"
            tbl = pa.Table.from_pylist(rows, schema=target)
            pq.write_table(tbl, os.path.join(d, name), write_statistics=with_stats)
            files[pv] = files.get(pv, 0) + 1

        buf: dict[str, list] = {}
        n_buf = 0
        for row in iterator:
            d = row.asDict(recursive=True)
            if self.pcol is None:
                pv = "_all"
            else:
                v = d.get(self.pcol)
                pv = "__HERODB_NULL__" if v is None or v == "" else str(v)
            buf.setdefault(pv, []).append(d)
            n_buf += 1
            if n_buf >= 200_000:  # bound executor memory per task
                for p, rows in buf.items():
                    flush(p, rows)
                buf, n_buf = {}, 0
        for p, rows in buf.items():
            flush(p, rows)
        return _OverwriteCommit(files)

    # driver side -----------------------------------------------------------
    def commit(self, messages) -> None:
        from herodb_spark.sources.snapshot import SnapshotTable

        parts: dict = {}
        nfiles: dict = {}
        for msg in messages:
            if msg is None:
                continue
            for pv, n in msg.files.items():
                parts[pv] = f"{self.vdir}/__p=" + urllib.parse.quote(pv, safe="")
                nfiles[pv] = nfiles.get(pv, 0) + n
        t = SnapshotTable(None, self.path)  # no session: footer zone maps only
        t._publish(
            t._load(), "overwrite", parts, nfiles,
            expect=(self._read_version, self._read_seq),
        )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, self.vdir), ignore_errors=True)


# -- the format ------------------------------------------------------------
class HerodbDataSource(DataSource):
    """`spark.read.format("herodb")` over a snapshot table path.

    Options:
    - `path` (required): snapshot table directory.
    - `version`: time travel to a pinned version (batch snapshot mode).
    - `mode`: `snapshot` (default) | `changes` (batch CDC between
      `changesFrom` (required) and `changesTo` (default current)).
    - streaming (`spark.readStream.format("herodb")`): requires
      `mode=changes` (a stream of this source IS the change feed);
      starts from `startingVersion` (int, INCLUSIVE: version N's own
      changes are delivered; `latest` = only commits after stream
      start; default = full history, version 0 arriving as inserts).
    - writing: `df.write.format("herodb").mode("overwrite")` is
      INSERT OVERWRITE as a staged two-phase commit with the same OCC
      validate-then-swap as every other mutation (see
      _OverwriteWriter); append mode is refused (keyed tables need
      merge semantics — merge_upsert / foreachBatch sinks).

    Register once per session:
        spark.dataSource.register(HerodbDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "herodb"

    #: class-level path fallback — the ONLY channel that survives a
    #: catalog-backed scan. Spark 4.1's PythonDataSourceV2.getTable
    #: drops the stored table properties on the floor (verified by
    #: bytecode: PythonTable keeps just (provider, shortName, schema)),
    #: so at scan time a fresh instance sees an EMPTY options dict and
    #: nothing identifies the table except the format NAME itself.
    #: `register_table` therefore bakes the path into a per-table
    #: subclass (cloudpickle ships dynamic classes by value), which is
    #: what `CREATE TABLE ... USING herodb_<name>` resolves through.
    _default_path: str | None = None

    def _path(self) -> str:
        p = self.options.get("path") or self._default_path
        if not p:
            raise ValueError(
                "herodb: option 'path' (snapshot table directory) is required "
                "(catalog DDL: register the table with pyds.register_table, "
                "which bakes the path into a per-table format)"
            )
        # tolerate URI-style paths
        if p.startswith("file://"):
            p = p[len("file://"):]
        elif p.startswith("file:"):
            p = p[len("file:"):]
        return p

    def _pin(self, m: dict) -> int:
        """Resolve-once version pin: without an explicit `version`
        option, the FIRST resolution (schema() at load time) pins
        `current`, and every later re-plan of the same DataFrame reads
        that version — two actions on one frame must not silently read
        different table versions (and under a concurrent add_columns
        the declared schema would no longer match the data source's).
        The DataSource instance is part of the plan, so the pin rides
        along; batch CDC pins its default changesTo the same way."""
        v = self.options.get("version")
        if v is not None:
            return int(v)
        if not hasattr(self, "_pinned_version"):
            self._pinned_version = int(m["current"])
        return self._pinned_version

    def schema(self) -> StructType:
        # schema() serves BOTH read and readStream, which cannot be
        # told apart here — so the change-feed shape (the only stream
        # this source offers) is selected explicitly by mode=changes,
        # for batch CDC and streams alike; streamReader() enforces it
        m = _load_manifest(self._path())
        mode = self.options.get("mode", "snapshot")
        if mode != "snapshot" and self.options.get("columns"):
            # fail loudly instead of silently ignoring the projection
            # knob (r8 review finding)
            raise ValueError(
                "herodb: the columns option applies to snapshot scans only "
                "(CDC rows carry the full image plus _change/_commit_version)"
            )
        if mode == "changes":
            # note: a missing changesFrom can only raise in reader()
            # (action time), because schema() cannot tell a batch CDC
            # read from a readStream, which has no changesFrom
            v_to = int(self.options.get("changesto", self._pin(m)))
            _version_entry(m, v_to, self._path())  # fail fast at load()
            return _cdc_struct(_schema_at(m, v_to))
        if mode != "snapshot":
            raise ValueError(f"herodb: unknown mode {mode!r} (snapshot | changes)")
        v = self._pin(m)
        _version_entry(m, v, self._path())  # fail fast at load()
        return self._project(_schema_at(m, v))

    def _project(self, schema: StructType) -> StructType:
        """Apply the `columns` option (comma-separated) — MANUAL
        projection pushdown. Spark 4.1's Python data source API has
        no SupportsPushDownRequiredColumns, so without this option a
        SELECT of 2 columns still ships every column through the
        Arrow socket; `.option("columns", "lang,n_chars")` narrows
        the scan schema itself (workers conform each file to exactly
        these fields), which is the difference between near-native
        and ~3× on wide tables."""
        cols = self.options.get("columns")
        if not cols:
            return schema
        want = [c.strip() for c in cols.split(",") if c.strip()]
        have = {f.name: f for f in schema.fields}
        missing = [c for c in want if c not in have]
        if missing:
            raise ValueError(
                f"herodb: columns option names unknown columns {missing} "
                f"(table has {sorted(have)})"
            )
        return StructType([have[c] for c in want])

    def reader(self, schema: StructType) -> DataSourceReader:
        mode = self.options.get("mode", "snapshot")
        m = _load_manifest(self._path())
        if mode == "changes":
            if "changesfrom" not in self.options:
                raise ValueError("herodb: mode=changes requires option 'changesFrom'")
            v_to = self.options.get("changesto")
            return _ChangesReader(
                self._path(),
                int(self.options["changesfrom"]),
                self._pin(m) if v_to is None else int(v_to),
            )
        par = self.options.get("scanparallelism")
        r = _SnapshotReader(
            self._path(),
            self._pin(m),
            split_bytes=int(self.options.get("splitfilebytes", _SPLIT_FILE_BYTES)),
            parallelism=int(par) if par is not None else None,
        )
        if self.options.get("columns"):
            # manual projection pushdown: workers conform to the
            # narrowed schema, so unrequested columns never cross the
            # Arrow socket (see _project)
            r.schema_json = self._project(
                StructType.fromJson(json.loads(r.schema_json))
            ).json()
        return r

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        if not overwrite:
            raise ValueError(
                "herodb: append mode cannot honor merge-by-key semantics on a "
                "keyed snapshot table — use mode('overwrite'), or "
                "SnapshotTable.merge_upsert / the foreachBatch sinks for "
                "incremental writes"
            )
        return _OverwriteWriter(self._path(), schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self.options.get("mode") != "changes":
            raise ValueError(
                "herodb: streaming reads are the change feed — pass "
                ".option('mode', 'changes') so the declared schema is the CDC shape"
            )
        return _ChangesStreamReader(self._path(), self.options.get("startingversion"))


def register(spark) -> None:
    """Idempotent format registration for the current session. Also
    enables Spark's Python data source filter pushdown (a dynamic SQL
    conf, default off) — _SnapshotReader.pushFilters turns pushed
    comparison conjuncts into manifest zone-map pruning, and Spark
    4.1 refuses to plan a reader that implements pushFilters while
    the conf is off."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HerodbDataSource)


#: version-pinned DataFrames, scoped PER SESSION: a WeakKeyDictionary
#: keyed by the SparkSession object maps to that session's
#: (path, version, columns) → DataFrame cache. Weak keying means a
#: stopped-and-dropped session releases its cached frames (and their
#: JVM plan state) immediately instead of waiting for FIFO eviction;
#: it also can't collide with a new session that reuses the old
#: session's id() after GC. Each per-session dict is bounded: oldest
#: entry evicted past _SCAN_CACHE_MAX.
_scan_caches: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SCAN_CACHE_MAX = 64

#: per-session format-name → baked-in path bookkeeping for
#: `register_table`, so a conflicting re-registration (same format,
#: different path) raises instead of silently repointing catalog
#: tables. Weak-keyed for the same lifetime reasons as _scan_caches.
_format_registry: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _session_scan_cache(spark) -> dict:
    cache = _scan_caches.get(spark)
    if cache is None:
        cache = {}
        _scan_caches[spark] = cache
    return cache


def scan(spark, path: str, version: int | None = None, columns: str | None = None):
    """Connector scan with the session-level plan cache the raw
    `spark.read.format("herodb")` path cannot have.

    Spark caches BOTH Python-planning round trips (the pickled data
    source instance and the read info / partition plan) on the
    `PythonDataSourceV2` instance inside the DataFrame's logical plan
    — so the ~0.25 s fixed planning tax is paid once per FRAME, not
    once per action. A fresh `load()` per query re-pays it; reusing
    the frame skips it (measured round 9: repeat lineitem scan+agg
    0.50 s vs 0.75 s fresh-load, native 0.26 s — the cached path is
    what meets the ≤2× target on warm reads).

    Reusing frames is SAFE here because every frame is version-pinned
    at load: a cached (path, version) frame is semantically identical
    to a freshly loaded one forever (copy-on-write storage, immutable
    versions). `version=None` resolves the CURRENT version with one
    manifest read per call, so a commit between calls yields a new
    cache key — the cache never serves stale data.
    """
    m = _load_manifest(path)
    v = int(version) if version is not None else int(m["current"])
    cache = _session_scan_cache(spark)
    key = (os.path.abspath(path), v, columns)
    df = cache.get(key)
    if df is None:
        r = (
            spark.read.format("herodb")
            .option("path", path)
            .option("version", str(v))
        )
        if columns:
            r = r.option("columns", columns)
        df = r.load()
        while len(cache) >= _SCAN_CACHE_MAX:
            cache.pop(next(iter(cache)))
        cache[key] = df
    return df


def register_table(spark, name: str, path: str) -> str:
    """Make one snapshot table addressable by SQL catalog DDL:

        fmt = pyds.register_table(spark, "orders", "/data/orders")
        spark.sql(f"CREATE TABLE orders USING {fmt}")
        spark.sql("SELECT * FROM orders")                  -- scans
        spark.sql("INSERT OVERWRITE orders SELECT ...")    -- OCC write

    Returns the registered format name (`herodb_<name>`).

    Why a per-table format: Spark 4.1 resolves a catalog-backed scan
    of a Python data source through `PythonDataSourceV2.getTable`,
    which DISCARDS the stored table properties — the scan-time
    instance receives an empty options dict, and the only information
    that survives from DDL to scan is the provider name. So the path
    rides in the format itself: a dynamically created subclass of
    `HerodbDataSource` whose class attribute `_default_path` carries
    it (cloudpickle serializes dynamic classes BY VALUE, so planning
    workers reconstruct the class with the path intact). Explicit
    `.option("path", ...)` still wins when present.

    Like `register`, this is per-session state: a new session must
    call `register_table` again before querying a catalog entry that
    was created against the format (the catalog row itself persists).
    """
    if not name.replace("_", "").isalnum():
        raise ValueError(f"herodb: table name {name!r} must be alphanumeric/underscore")
    if name != name.lower():
        # Format names are case-folded by the session registry, so
        # "Orders" and "orders" would silently share one format and
        # the second registration would replace the first table's
        # baked-in path. Require the caller to pass the canonical
        # lowercase name up front instead of folding behind its back.
        raise ValueError(
            f"herodb: table name {name!r} must be lowercase "
            "(format names are case-insensitive in the session registry)"
        )
    fmt = f"herodb_{name}"
    registered = _format_registry.setdefault(spark, {})
    prior = registered.get(fmt)
    if prior is not None and os.path.abspath(prior) != os.path.abspath(path):
        raise ValueError(
            f"herodb: format {fmt!r} is already registered for path "
            f"{prior!r}; re-registering it for {path!r} would silently "
            "repoint existing catalog tables"
        )
    cls = type(
        f"HerodbTable_{name}",
        (HerodbDataSource,),
        {
            "_default_path": path,
            "name": classmethod(lambda _cls, _fmt=fmt: _fmt),
        },
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(cls)
    registered[fmt] = path
    return fmt
