"""Python Data Source connector (sources/pyds.py): batch snapshot
scans with time travel, batch change-feed reads, and the streaming
CDC source — `spark.read/readStream.format("herodb")`."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from herodb_spark.sources import pyds
from herodb_spark.sources.snapshot import SnapshotTable


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    pyds.register(spark)


def _mk(spark, tmp_path, partitioned=True):
    df = spark.createDataFrame(
        [(1, "a", 1.5, 10), (2, "b", 2.5, 10), (3, "c", 3.5, 20)],
        "k long, s string, x double, g long",
    )
    return SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "t"),
        df,
        key_cols=["k"],
        partition_col="g" if partitioned else None,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- batch snapshot ---------------------------------------------------------
def test_batch_scan_matches_native_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(2, "B", 9.9, 10), (4, "d", 4.0, 20)], "k long, s string, x double, g long")
    )
    got = spark.read.format("herodb").option("path", t.path).load()
    assert got.schema == t.read().schema
    assert _rows(got) == _rows(t.read())


def test_batch_time_travel_and_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_columns({"note": "string"})
    t.merge_upsert(
        spark.createDataFrame([(9, "z", 0.0, 10, "hi")], "k long, s string, x double, g long, note string")
    )
    v0 = spark.read.format("herodb").option("path", t.path).option("version", "0").load()
    # pre-evolution version binds its OWN schema (no `note`)
    assert v0.columns == ["k", "s", "x", "g"]
    assert _rows(v0) == _rows(t.read(version=0))
    # current: files written before the evolution surface NULL note
    cur = spark.read.format("herodb").option("path", t.path).load()
    assert _rows(cur) == _rows(t.read())
    assert cur.where(F.col("note").isNull()).count() == 3


def test_batch_scan_task_packing(spark, tmp_path):
    """Since round 8 small files PACK into tasks bounded by
    splitFileBytes (one Python worker round-trip per ~128 MB, not per
    kilobyte-sized file — the maxPartitionBytes analog in both
    directions). Forcing the bound to 1 byte restores one task per
    file; the default packs this tiny table into fewer tasks."""
    t = _mk(spark, tmp_path)
    m = t._load()
    n_files = sum(m["versions"]["0"]["files"].values())
    per_file = (
        spark.read.format("herodb").option("path", t.path)
        .option("splitFileBytes", "1").load()
    )
    # 1-byte bound: every file is "oversized" → per-row-group tasks,
    # at least one per file
    assert per_file.rdd.getNumPartitions() >= n_files > 1
    packed = spark.read.format("herodb").option("path", t.path).load()
    assert 1 <= packed.rdd.getNumPartitions() < n_files
    assert sorted(r.k for r in packed.collect()) == sorted(r.k for r in per_file.collect())


def test_batch_scan_all_partitions_deleted(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where(F.lit(True))
    got = spark.read.format("herodb").option("path", t.path).load()
    assert got.count() == 0
    assert got.columns == ["k", "s", "x", "g"]


def test_unknown_version_and_mode_raise(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(Exception, match="no version 99"):
        spark.read.format("herodb").option("path", t.path).option("version", "99").load()
    with pytest.raises(Exception, match="unknown mode"):
        spark.read.format("herodb").option("path", t.path).option("mode", "bogus").load()


def test_vacuumed_version_error_names_retained_range(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i in range(3):
        t.merge_upsert(
            spark.createDataFrame([(10 + i, "v", 0.0, 10)], "k long, s string, x double, g long")
        )
    t.vacuum(keep_last=1)
    with pytest.raises(Exception, match="vacuumed; retained versions 3..3"):
        spark.read.format("herodb").option("path", t.path).option("version", "0").load()


# -- batch change feed ------------------------------------------------------
def test_batch_changes_match_read_changes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(2, "B", 9.9, 10), (4, "d", 4.0, 20)], "k long, s string, x double, g long")
    )
    t.delete_where(F.col("k") == 1)
    got = (
        spark.read.format("herodb")
        .option("path", t.path)
        .option("mode", "changes")
        .option("changesFrom", "0")
        .load()
    )
    # the native JVM joiner is the oracle, modulo its lack of the
    # _commit_version column (it nets all commits into one diff here
    # the per-commit feed must agree because each key changed once)
    native = t.read_changes(0)
    assert _rows(got.drop("_commit_version")) == _rows(native.select(got.columns[:-1]))
    # per-commit attribution
    assert {r._commit_version for r in got.where("_change = 'delete'").collect()} == {2}
    assert {r._commit_version for r in got.where("_change != 'delete'").collect()} == {1}


def test_batch_changes_requires_from(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(Exception, match="changesFrom"):
        # schema() can't tell batch CDC from readStream, so the check
        # lands at planning (first action), not at load()
        spark.read.format("herodb").option("path", t.path).option("mode", "changes").load().count()


def test_changes_empty_window_and_compaction_are_silent(spark, tmp_path):
    """compact() rewrites directories with identical content — the
    feed must emit nothing for it; an empty version window yields an
    empty frame with the right schema."""
    t = _mk(spark, tmp_path)
    for i in range(4):
        t.merge_upsert(
            spark.createDataFrame([(100 + i, "f", 0.0, 10)], "k long, s string, x double, g long")
        )
    t.compact(max_files_per_partition=1)
    assert t._load()["current"] == 5
    ch = (
        spark.read.format("herodb")
        .option("path", t.path)
        .option("mode", "changes")
        .option("changesFrom", "4")
        .load()
    )
    assert ch.count() == 0
    assert ch.columns[-2:] == ["_change", "_commit_version"]


def test_changes_partition_move_reports_delete_insert(spark, tmp_path):
    """A key whose partition-column value changes surfaces as
    delete+insert (documented CDC encoding for partition movers)."""
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(1, "a", 1.5, 20)], "k long, s string, x double, g long"))
    ch = (
        spark.read.format("herodb")
        .option("path", t.path)
        .option("mode", "changes")
        .option("changesFrom", "0")
        .load()
    )
    got = sorted((r._change, r.g) for r in ch.where("k = 1").collect())
    assert got == [("delete", 10), ("insert", 20)]


# -- streaming change feed --------------------------------------------------
def _collecting_query(spark, path, ckpt, out, starting=None):
    reader = spark.readStream.format("herodb").option("path", path).option("mode", "changes")
    if starting is not None:
        reader = reader.option("startingVersion", starting)

    def sink(bdf, bid):
        rows = [(r.k, r.s, r._change, r._commit_version) for r in bdf.collect()]
        if rows:
            out.append(sorted(rows))

    return (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )


def _await(pred, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.5)
    return False


def test_stream_cdc_end_to_end_and_resume(spark, tmp_path):
    t = _mk(spark, tmp_path, partitioned=False)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    out: list = []
    q = _collecting_query(spark, t.path, ckpt, out)
    try:
        # batch 0: full history (v0 arrives as inserts)
        assert _await(lambda: len(out) >= 1)
        assert out[0] == sorted([(1, "a", "insert", 0), (2, "b", "insert", 0), (3, "c", "insert", 0)])
        t.merge_upsert(spark.createDataFrame([(2, "B", 9.9, 10)], "k long, s string, x double, g long"))
        assert _await(lambda: len(out) >= 2)
        assert out[1] == sorted([(2, "b", "update_pre", 1), (2, "B", "update_post", 1)])
    finally:
        q.stop()
    # a commit while the stream is down is picked up from the checkpoint
    t.delete_where(F.col("k") == 3)
    out2: list = []
    q2 = _collecting_query(spark, t.path, ckpt, out2)
    try:
        assert _await(lambda: len(out2) >= 1)
        assert out2[0] == [(3, "c", "delete", 2)]
    finally:
        q2.stop()


def test_stream_starting_version_latest(spark, tmp_path):
    t = _mk(spark, tmp_path, partitioned=False)
    t.merge_upsert(spark.createDataFrame([(7, "g", 0.0, 10)], "k long, s string, x double, g long"))
    out: list = []
    q = _collecting_query(
        spark, t.path, os.path.join(str(tmp_path), "ckpt2"), out, starting="latest"
    )
    try:
        # `latest` is resolved when the stream reader initializes —
        # wait for the first completed trigger before committing, or
        # a slow startup would resolve "latest" PAST the new commit
        assert _await(lambda: q.lastProgress is not None)
        # history before query start is NOT replayed
        t.merge_upsert(spark.createDataFrame([(8, "h", 0.0, 10)], "k long, s string, x double, g long"))
        assert _await(lambda: len(out) >= 1)
        assert out[0] == [(8, "h", "insert", 2)]
        assert len(out) == 1
    finally:
        q.stop()


def test_stream_starting_version_inclusive_of_pre_start_commit(spark, tmp_path):
    """startingVersion=N is INCLUSIVE and must hold even when version N
    is committed BEFORE the stream's first poll. Regression test for the
    streaming-MV suite flake: offsets are last-consumed versions, so
    startingVersion=1 mapping to offset 1 (instead of 0) swallowed v1
    whenever the first latestOffset() ran after the commit — the stream
    then never delivered anything, with no error raised."""
    t = _mk(spark, tmp_path, partitioned=False)
    # v1 exists before the stream starts — the old off-by-one marked it
    # consumed and this test hung at `len(out) >= 1` deterministically
    t.merge_upsert(spark.createDataFrame([(2, "B", 9.9, 10)], "k long, s string, x double, g long"))
    out: list = []
    q = _collecting_query(spark, t.path, os.path.join(str(tmp_path), "ckpt4"), out, starting="1")
    try:
        q.processAllAvailable()
        assert _await(lambda: len(out) >= 1)
        assert out[0] == sorted([(2, "b", "update_pre", 1), (2, "B", "update_post", 1)])
        assert len(out) == 1  # v0's inserts are NOT replayed (start is 1, not 0)
    finally:
        q.stop()


def test_pyds_snapshot_roundtrip_matches_oracle(spark):
    """The registered query: durable round trip (create → upsert →
    delete) read back through the connector's three surfaces, hash-
    matched against the pure-SQL oracle at both driver SFs."""
    from herodb_spark.operators.connector import (
        PYDS_SNAPSHOT_ROUNDTRIP_SQL,
        pyds_snapshot_roundtrip,
    )
    from tests.harness import compare, duckdb_con

    for sfd in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb_con(sfd)
        try:
            res = compare(pyds_snapshot_roundtrip(spark, sfd), PYDS_SNAPSHOT_ROUNDTRIP_SQL, con)
            assert res["ok"], (sfd, res["detail"])
        finally:
            con.close()


def test_stream_requires_changes_mode(spark, tmp_path):
    t = _mk(spark, tmp_path)
    q = (
        spark.readStream.format("herodb")
        .option("path", t.path)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt3"))
        .start()
    )
    # streamReader() runs on the stream thread — the misuse fails the
    # QUERY (with the guidance message), not the start() call
    with pytest.raises(Exception, match="mode"):
        q.awaitTermination(60)
        raise AssertionError("query did not fail")


# -- batch overwrite writer ---------------------------------------------------
def test_writer_overwrite_roundtrip_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    new = spark.createDataFrame(
        [(7, "q", 7.5, 10), (8, "r", 8.5, 20), (9, "s", 9.5, 30)],
        "k long, s string, x double, g long",
    )
    new.write.format("herodb").option("path", t.path).mode("overwrite").save()
    m = t._load()
    assert m["current"] == 1 and m["versions"]["1"]["op"] == "overwrite"
    assert _rows(t.read()) == _rows(new)
    # connector read agrees; version 0 still time travels
    assert _rows(spark.read.format("herodb").option("path", t.path).load()) == _rows(new)
    assert len(t.read(version=0).collect()) == 3
    # partition zone maps read from the staged files' footers at
    # commit; file-level stats are cluster()'s alone
    assert m["versions"]["1"]["stats"]["30"]["k"] == [9, 9]
    assert not set(m.get("file_stats", {})) & set(m["versions"]["1"]["partitions"].values())
    # partition-level skipping works on the committed stats
    pr = t.read(ranges={"k": (9, 9)})
    assert len(pr.inputFiles()) < len(t.read().inputFiles())
    assert [r.k for r in pr.where("k = 9").collect()] == [9]


def test_writer_nan_double_key_is_never_skipped(spark, tmp_path):
    """Spark orders NaN above every double, so `k >= 3.0` holds for a
    NaN key. Rows written through format("herodb") must stay reachable
    on every read path: pyarrow's NaN-blind parquet min/max may feed
    neither Spark's parquet pushdown (plain read) nor the zone maps
    (ranges read, connector pushdown). An all-NaN write records no
    inverted [inf, -inf] bound."""
    import math

    schema = "k double, v long"
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"),
        spark.createDataFrame([(0.5, 0)], schema), key_cols=["k"],
    )

    def overwrite(rows):  # one write task: one file holds every row
        spark.createDataFrame(rows, schema).coalesce(1).write.format("herodb").option(
            "path", t.path
        ).mode("overwrite").save()

    def hits(df):
        return sorted(r.v for r in df.where("k >= 3.0").collect())

    overwrite([(1.0, 1), (2.0, 2), (float("nan"), 3)])
    assert hits(t.read()) == [3]
    assert hits(t.read(ranges={"k": (3.0, None)})) == [3]
    assert hits(spark.read.format("herodb").option("path", t.path).load()) == [3]
    overwrite([(float("nan"), 4)])
    stats = t._load()["versions"]["2"]["stats"]
    assert all(st.get("k") != [math.inf, -math.inf] for st in stats.values()), stats
    assert hits(t.read(ranges={"k": (3.0, None)})) == [4]


def test_changes_refuse_key_set_migration(spark, tmp_path):
    """The connector's change feed diffs each commit on the key set in
    effect at it; like read_changes, it refuses a window across a
    key-set migration instead of diffing old files on a key column
    they lack. Windows on one side of the migration still read."""
    t = _mk(spark, tmp_path)
    v1 = t.migrate(
        {"kk": "CAST(k AS STRING)", "s": "s", "x": "x", "g": "g"}, key_cols=["kk"]
    )
    t.merge_upsert(
        spark.createDataFrame([("9", "z", 9.0, 10)], "kk string, s string, x double, g long")
    )

    def changes(v_from):
        return (
            spark.read.format("herodb").option("path", t.path)
            .option("mode", "changes").option("changesFrom", str(v_from))
            .load().collect()
        )

    with pytest.raises(Exception, match="key-set migration"):
        changes(0)
    assert [(r.kk, r._change) for r in changes(v1)] == [("9", "insert")]


def test_writer_feeds_normal_mutations_and_cdc(spark, tmp_path):
    t = _mk(spark, tmp_path)
    new = spark.createDataFrame([(1, "a", 1.0, 10), (2, "b", 2.0, 10)], "k long, s string, x double, g long")
    new.write.format("herodb").option("path", t.path).mode("overwrite").save()
    t.merge_upsert(spark.createDataFrame([(2, "B", 9.0, 10)], "k long, s string, x double, g long"))
    assert _rows(t.read().select("k", "s")) == [(1, "a"), (2, "B")]
    ch = t.read_changes(1, 2)
    assert sorted((r.k, r._change) for r in ch.collect()) == [(2, "update_post"), (2, "update_pre")]


def test_writer_append_mode_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    df = t.read()
    with pytest.raises(Exception, match="append"):
        df.write.format("herodb").option("path", t.path).mode("append").save()


def test_writer_schema_mismatch_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = spark.createDataFrame([(1, "a")], "k long, s string")
    with pytest.raises(Exception, match="overwrite frame columns"):
        bad.write.format("herodb").option("path", t.path).mode("overwrite").save()
    badtype = spark.createDataFrame([(1, "a", 1.0, 10)], "k int, s string, x double, g long")
    with pytest.raises(Exception, match="type mismatch"):
        badtype.write.format("herodb").option("path", t.path).mode("overwrite").save()


def test_writer_occ_fences_interleaved_commit(spark, tmp_path):
    """A commit landing between the writer's snapshot and its publish
    must cancel the job (staged files become vacuum-orphan garbage)."""
    from herodb_spark.sources.pyds import _OverwriteWriter
    from herodb_spark.sources.snapshot import ConcurrentWriteError

    t = _mk(spark, tmp_path)
    w = _OverwriteWriter(t.path, t.read().schema)  # OCC captured here
    t.merge_upsert(spark.createDataFrame([(5, "e", 5.0, 10)], "k long, s string, x double, g long"))
    with pytest.raises(ConcurrentWriteError):
        w.commit([])
    # table state is the interleaved commit's, untouched by the loser
    assert t._load()["current"] == 1


def test_writer_empty_overwrite_yields_empty_table(spark, tmp_path):
    t = _mk(spark, tmp_path)
    empty = spark.createDataFrame([], "k long, s string, x double, g long")
    empty.write.format("herodb").option("path", t.path).mode("overwrite").save()
    assert t.read().count() == 0
    assert t.read().columns == ["k", "s", "x", "g"]


def test_table_to_table_streaming_composition(spark, tmp_path):
    """Capstone composition: durable SOURCE table → its change feed as
    a structured stream (this connector) → a HeroQL rule as the
    STREAMING transform → exactly-once snapshot sink into a durable
    TARGET table. The target converges to a filtered projection of the
    source as the source keeps committing."""
    from herodb_spark.heroql import HeroQL
    from herodb_spark.streaming.sink import SnapshotUpsertSink

    src = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "src"),
        spark.createDataFrame([(1, 5.0), (2, 50.0)], "k long, x double"),
        key_cols=["k"],
    )
    dst = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "dst"),
        spark.createDataFrame([], "k long, x double"),
        key_cols=["k"],
    )
    cdc = (
        spark.readStream.format("herodb")
        .option("path", src.path)
        .option("mode", "changes")
        .load()
    )
    # language-level streaming transform: keep insert/update images
    # with x >= 10 (positional binding over the CDC columns)
    hql = HeroQL(spark)
    hql.register("C", cdc)
    big = hql.run(
        'query (k, x) :- C(k, x, ch, _), ch == "insert" or ch == "update_post", x >= 10;'
    ).queries[0]
    assert big.isStreaming
    q = (
        big.writeStream.foreachBatch(SnapshotUpsertSink(dst, sink_id="comp"))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        assert _await(lambda: {r.k for r in dst.read().collect()} == {2})
        src.merge_upsert(spark.createDataFrame([(1, 99.0), (3, 7.0), (4, 40.0)], "k long, x double"))
        assert _await(lambda: {r.k for r in dst.read().collect()} == {1, 2, 4})
    finally:
        q.stop()
    # exactly-once: replaying the last batch through the sink no-ops
    v = dst._load()["current"]
    last = dst.last_txn("comp")
    SnapshotUpsertSink(dst, sink_id="comp")(
        spark.createDataFrame([(4, 40.0)], "k long, x double"), last
    )
    assert dst._load()["current"] == v


def test_oversized_files_split_into_row_group_tasks(spark, tmp_path):
    """A file above the split threshold plans one task per ROW GROUP
    (a compacted partition is one big file by design — it must not
    serialize onto one task)."""
    import pyarrow.parquet as pq


    import pyarrow as pa

    t = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "t2"),
        spark.range(1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").coalesce(1),
        key_cols=["k"],
    )
    # rewrite the committed file in place with many row groups
    # (content-identical — simulating a large compacted file)
    rel = t._load()["versions"]["0"]["partitions"]["_all"]
    d = os.path.join(t.path, rel)
    (fname,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
    tbl = pa.table({"k": list(range(1000)), "x": [float(i) for i in range(1000)]})
    pq.write_table(tbl, os.path.join(d, fname), row_group_size=100)
    # force every file over the threshold (planning runs in its own
    # python worker — an option, not a monkeypatch, must carry it)
    got = (
        spark.read.format("herodb")
        .option("path", t.path)
        .option("splitFileBytes", "0")
        .load()
    )
    n_groups = sum(
        pq.ParquetFile(os.path.join(t.path, rel, f)).metadata.num_row_groups
        for rel in t._load()["versions"]["0"]["partitions"].values()
        for f in os.listdir(os.path.join(t.path, rel))
        if f.endswith(".parquet")
    )
    assert n_groups > 1
    assert got.rdd.getNumPartitions() == n_groups
    assert got.count() == 1000
    assert sorted(r.k for r in got.collect()) == list(range(1000))


def test_cdc_fold_reproduces_final_state_random_histories(spark, tmp_path):
    """Property: for a random mutation history, folding the connector's
    per-commit change feed (insert/update_post apply, delete removes;
    update_pre is the audit image) over the empty state reproduces the
    final table exactly — including partition-moving keys, which
    arrive as delete+insert. For every commit v, the feed's rows equal
    read_changes(v - 1, v) row for row."""
    import random

    rng = random.Random(7)
    t = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "t"),
        spark.createDataFrame([], "k long, v long, g long"),
        key_cols=["k"],
        partition_col="g",
    )
    live: set[int] = set()
    for _ in range(6):
        op = rng.choice(["upsert", "delete"]) if live else "upsert"
        if op == "upsert":
            keys = rng.sample(range(12), rng.randint(1, 4))
            rows = [(k, rng.randint(0, 99), rng.randint(0, 2)) for k in keys]
            t.merge_upsert(spark.createDataFrame(rows, "k long, v long, g long"))
            live |= set(keys)
        else:
            doomed = rng.sample(sorted(live), min(len(live), rng.randint(1, 2)))
            t.delete_where(F.col("k").isin(doomed))
            live -= set(doomed)
    feed = (
        spark.read.format("herodb")
        .option("path", t.path)
        .option("mode", "changes")
        .option("changesFrom", "0")
        .load()
        .collect()
    )
    state: dict[int, tuple] = {
        (r.k): (r.v, r.g) for r in t.read(version=0).collect()
    }
    # within a commit, deletes apply FIRST: a partition-moving key is
    # encoded as delete (old pv) + insert (new pv) of the SAME commit
    for r in sorted(feed, key=lambda r: (r._commit_version, r._change != "delete")):
        if r._change in ("insert", "update_post"):
            state[r.k] = (r.v, r.g)
        elif r._change == "delete":
            state.pop(r.k, None)
    final = {r.k: (r.v, r.g) for r in t.read().collect()}
    assert state == final
    moves = 0
    for v in range(1, t._load()["current"] + 1):
        ours = sorted((r.k, r.v, r.g, r._change) for r in feed if r._commit_version == v)
        native = sorted(tuple(r) for r in t.read_changes(v - 1, v).collect())
        assert ours == native, (v, ours, native)
        deleted = {r[0] for r in ours if r[3] == "delete"}
        moves += sum(1 for r in ours if r[3] == "insert" and r[0] in deleted)
    assert moves, "the history must move a key between partitions"


def test_cdc_with_array_payload_uses_fallback_diff(spark, tmp_path):
    """Nested payload types (array<double>) can't go through the Acero
    join — the dict fallback must produce the same CDC semantics."""
    t = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "t"),
        spark.createDataFrame([(1, [1.0, 2.0]), (2, [3.0])], "k long, e array<double>"),
        key_cols=["k"],
    )
    t.merge_upsert(spark.createDataFrame([(2, [3.0, 4.0]), (5, [9.0])], "k long, e array<double>"))
    ch = (
        spark.read.format("herodb")
        .option("path", t.path)
        .option("mode", "changes")
        .option("changesFrom", "0")
        .load()
    )
    got = sorted((r.k, r._change, tuple(r.e)) for r in ch.collect())
    assert got == [
        (2, "update_post", (3.0, 4.0)),
        (2, "update_pre", (3.0,)),
        (5, "insert", (9.0,)),
    ]


def test_dataframe_pins_load_time_version(spark, tmp_path):
    """Two actions on one DataFrame must read the SAME table version:
    without an explicit version option, load() pins `current`, and
    later commits — including schema evolution, which would otherwise
    crash the declared-schema check — do not leak in."""
    t = _mk(spark, tmp_path, partitioned=False)
    df = spark.read.format("herodb").option("path", t.path).load()
    before = _rows(df)
    t.merge_upsert(spark.createDataFrame([(9, "z", 0.0, 10)], "k long, s string, x double, g long"))
    t.add_columns({"note": "string"})
    assert _rows(df) == before  # still version 0, still 4 columns
    # a FRESH load sees the new current (and the evolved schema)
    fresh = spark.read.format("herodb").option("path", t.path).load()
    assert fresh.count() == 4 and "note" in fresh.columns


def test_writer_refuses_divergent_partition_value_types(spark, tmp_path):
    """Boolean/double partition columns must be refused: Python str()
    would fork the manifest partition keys from the engine's
    cast-to-string form ('True' vs 'true')."""
    t = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "tb"),
        spark.createDataFrame([(1, True)], "k long, flag boolean"),
        key_cols=["k"],
        partition_col="flag",
    )
    with pytest.raises(Exception, match="integer/string partition"):
        t.read().write.format("herodb").option("path", t.path).mode("overwrite").save()


def test_pushdown_prunes_partitions_and_files(spark, tmp_path):
    """Round 8: pushFilters turns comparison conjuncts into manifest
    zone-map pruning — partition values via per-partition stats, files
    via cluster()'s per-file zone maps — with every filter reported
    back for Spark's row-level re-apply (pruning is IO-only)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from herodb_spark.sources.pyds import _SnapshotReader

    t = _mk(spark, tmp_path)  # partitions g=10 (k∈{1,2}), g=20 (k=3)
    def n_files(rdr):  # packing merges tasks — count planned FILES
        return sum(len(p.files) for p in rdr.partitions())

    r = _SnapshotReader(t.path, t._load()["current"])
    n_all = n_files(r)
    # partition-column equality: only g=10's files remain
    r2 = _SnapshotReader(t.path, t._load()["current"])
    leftover = list(r2.pushFilters([EqualTo(("g",), 10)]))
    assert len(leftover) == 1  # reported back: Spark re-applies
    n_g10 = n_files(r2)
    assert 0 < n_g10 < n_all
    # key range that excludes every partition (k stats: max 3)
    r3 = _SnapshotReader(t.path, t._load()["current"])
    list(r3.pushFilters([GreaterThanOrEqual(("k",), 99)]))
    assert len(r3.partitions()) == 0
    # end-to-end: the connector + .where agrees with the native read
    got = (
        spark.read.format("herodb").option("path", t.path).load()
        .where("g = 10 and k >= 2")
    )
    assert _rows(got) == _rows(t.read().where("g = 10 and k >= 2"))


def test_pushdown_prunes_clustered_files(spark, tmp_path):
    """File-level pruning through the connector: after OPTIMIZE
    ZORDER records per-file zone maps, a key-range filter plans only
    the files whose [min,max] can intersect."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from herodb_spark.sources.pyds import _SnapshotReader

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "tc"), df, key_cols=["k"])
    t.cluster(["k"], files_per_partition=4)  # 4 files with k zone maps
    def n_files(rdr):
        return sum(len(p.files) for p in rdr.partitions())

    r = _SnapshotReader(t.path, t._load()["current"])
    n_all = n_files(r)
    r2 = _SnapshotReader(t.path, t._load()["current"])
    list(r2.pushFilters([GreaterThanOrEqual(("k",), 90)]))
    n_pruned = n_files(r2)
    assert 0 < n_pruned < n_all
    got = (
        spark.read.format("herodb").option("path", t.path).load().where("k >= 90")
    )
    assert got.count() == 10


def test_columns_option_manual_projection(spark, tmp_path):
    """Round 8: `.option("columns", ...)` narrows the scan schema —
    the manual stand-in for column pruning (absent from Spark 4.1's
    Python data source API). Unknown names raise; results match a
    post-hoc select; evolution-missing columns still conform."""
    t = _mk(spark, tmp_path)
    got = (
        spark.read.format("herodb").option("path", t.path)
        .option("columns", "g,k").load()
    )
    assert got.columns == ["g", "k"]
    assert _rows(got) == _rows(t.read().select("g", "k"))
    with pytest.raises(Exception, match="unknown columns"):
        (spark.read.format("herodb").option("path", t.path)
         .option("columns", "nope").load())
    # across schema evolution: a requested added column NULL-fills
    t.add_columns({"note": "string"})
    got2 = (
        spark.read.format("herodb").option("path", t.path)
        .option("columns", "k,note").load()
    )
    assert _rows(got2) == _rows(t.read().select("k", "note"))


def test_columns_option_rejected_for_changes_mode(spark, tmp_path):
    """r8 review finding: `columns` silently did nothing for CDC
    reads — it must raise a clear error instead."""
    t = _mk(spark, tmp_path)
    with pytest.raises(Exception, match="snapshot scans only"):
        (spark.read.format("herodb").option("path", t.path)
         .option("mode", "changes").option("changesFrom", "0")
         .option("columns", "k").load())


def test_streaming_mv_maintenance_composition(spark, tmp_path):
    """Composition: durable table → CDC STREAM (this connector) →
    per-micro-batch incremental MV maintenance
    (matview.refresh_mv_from_changes) — a continuously-maintained
    materialized aggregate that must equal a from-scratch rebuild
    after every upstream commit (inserts, updates AND deletes)."""
    from herodb_spark.operators import matview as MV

    src = SnapshotTable.create(
        spark,
        os.path.join(str(tmp_path), "src"),
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0)], "k long, g string, v double"
        ),
        key_cols=["k"],
    )
    keys, specs = ["g"], [("n", "count", F.lit(1)), ("s", "sum", F.col("v"))]
    state = {"mv": MV.build_mv(src.read(version=0), keys, specs).localCheckpoint()}

    batches = []  # (batch_id, rows) log — dumped on failure to pin the flake

    def fold(bdf, bid):
        rows = bdf.collect()  # micro-batches are small by definition
        batches.append((bid, [tuple(r) for r in rows]))
        if not rows:
            return
        ch = spark.createDataFrame(rows, bdf.schema).drop("_commit_version")
        state["mv"] = MV.refresh_mv_from_changes(
            state["mv"], ch, keys, specs
        ).localCheckpoint()

    cdc = (
        spark.readStream.format("herodb")
        .option("path", src.path)
        .option("mode", "changes")
        .option("startingVersion", "1")
        .load()
    )
    q = (
        cdc.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )

    def mv_rows():
        return sorted(tuple(r) for r in state["mv"].collect())

    def rebuilt():
        return sorted(tuple(r) for r in MV.build_mv(src.read(), keys, specs).collect())

    def converged(where):
        if _await(lambda: mv_rows() == rebuilt(), timeout=60):
            return
        raise AssertionError(
            f"MV did not converge after {where}:\n"
            f"  mv_rows      = {mv_rows()}\n"
            f"  rebuilt      = {rebuilt()}\n"
            f"  batches      = {batches}\n"
            f"  manifest cur = {src._load()['current']}\n"
            f"  read_changes(0) = {sorted(tuple(r) for r in src.read_changes(0).collect())}\n"
            f"  q.status     = {q.status}\n"
            f"  lastProgress = {q.lastProgress}\n"
            f"  exception    = {q.exception()}"
        )

    try:
        src.merge_upsert(
            spark.createDataFrame([(2, "a", 50.0), (4, "b", 1.0)], "k long, g string, v double")
        )
        # processAllAvailable blocks until every pending micro-batch has run
        # (and re-raises if the query died), so no wall-clock guess is needed
        # even when the 1 s trigger is starved under full-suite box load; the
        # short _await only covers the driver-side `state` handoff.
        q.processAllAvailable()
        converged("upsert")
        src.delete_where(F.col("g") == "a")  # full group retraction
        q.processAllAvailable()
        converged("delete")
        assert all(r[0] != "a" for r in mv_rows())  # dead group left the view
    finally:
        q.stop()


# -- catalog DDL (per-table format) -----------------------------------------
def test_catalog_ddl_roundtrip(spark, tmp_path):
    """CREATE TABLE ... USING herodb_<name> scans and INSERT OVERWRITEs
    through the SQL catalog — the path rides in the per-table format
    class because Spark 4.1 drops table properties between DDL and
    scan (see pyds.register_table)."""
    t = _mk(spark, tmp_path)
    fmt = pyds.register_table(spark, "pyds_cat_t1", t.path)
    assert fmt == "herodb_pyds_cat_t1"
    spark.sql("DROP TABLE IF EXISTS pyds_cat_t1")
    try:
        spark.sql(f"CREATE TABLE pyds_cat_t1 USING {fmt}")
        got = spark.sql("SELECT k, s, x, g FROM pyds_cat_t1")
        assert _rows(got) == _rows(t.read().select("k", "s", "x", "g"))

        # catalog write path: INSERT OVERWRITE goes through the same
        # staged two-phase OCC commit as df.write
        spark.sql(
            "INSERT OVERWRITE pyds_cat_t1 "
            "SELECT k, upper(s) AS s, x, g FROM pyds_cat_t1"
        )
        after = spark.sql("SELECT s FROM pyds_cat_t1")
        assert sorted(r[0] for r in after.collect()) == ["A", "B", "C"]
        # the overwrite is a real table version, visible natively
        assert t._load()["current"] >= 1
        assert _rows(t.read().select("s")) == _rows(after)

        # an explicit path option still beats the baked-in default
        other = SnapshotTable.create(
            spark,
            os.path.join(str(tmp_path), "other"),
            spark.createDataFrame([(7, "zz", 0.0, 30)], "k long, s string, x double, g long"),
            key_cols=["k"],
        )
        via_opt = (
            spark.read.format(fmt).option("path", other.path).load()
        )
        assert _rows(via_opt.select("k")) == [(7,)]
    finally:
        spark.sql("DROP TABLE IF EXISTS pyds_cat_t1")


def test_register_table_rejects_bad_name(spark, tmp_path):
    with pytest.raises(ValueError, match="alphanumeric"):
        pyds.register_table(spark, "bad-name", str(tmp_path))


def test_register_table_rejects_case_collision_and_repoint(spark, tmp_path):
    """Format names case-fold in the session registry, so "Orders" and
    "orders" would silently share one format; register_table requires
    canonical lowercase up front and refuses to repoint a registered
    format at a different path (idempotent same-path re-register OK)."""
    with pytest.raises(ValueError, match="lowercase"):
        pyds.register_table(spark, "Orders", str(tmp_path))
    t = _mk(spark, tmp_path)
    fmt = pyds.register_table(spark, "pyds_reg_guard", t.path)
    # same path: idempotent
    assert pyds.register_table(spark, "pyds_reg_guard", t.path) == fmt
    with pytest.raises(ValueError, match="already registered"):
        pyds.register_table(spark, "pyds_reg_guard", str(tmp_path / "elsewhere"))


# -- cached scan -------------------------------------------------------------
def test_scan_cache_reuses_pinned_frame_and_sees_commits(spark, tmp_path):
    """pyds.scan returns the SAME DataFrame object for repeated reads
    of one (path, version) — Spark caches both Python-planning round
    trips on the plan's DataSourceV2 instance, so frame reuse is the
    fixed-cost optimization — and a commit in between yields a fresh
    frame (version is part of the cache key; never stale)."""
    t = _mk(spark, tmp_path)
    a = pyds.scan(spark, t.path)
    b = pyds.scan(spark, t.path)
    assert a is b
    assert _rows(a) == _rows(t.read())

    t.merge_upsert(
        spark.createDataFrame([(9, "z", 9.0, 10)], "k long, s string, x double, g long")
    )
    c = pyds.scan(spark, t.path)
    assert c is not a
    assert _rows(c) == _rows(t.read())
    # the old frame still serves its pinned version (snapshot isolation)
    assert _rows(a) == _rows(t.read(version=0))
    # explicit version + columns hit their own cache slots
    v0 = pyds.scan(spark, t.path, version=0)
    assert v0 is pyds.scan(spark, t.path, version=0)
    cols = pyds.scan(spark, t.path, columns="k,s")
    assert cols.columns == ["k", "s"]
    assert cols is pyds.scan(spark, t.path, columns="k,s")
    assert cols is not pyds.scan(spark, t.path)


def test_scan_cache_bounded_and_session_scoped(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # flood THIS session's cache with distinct keys; the next scan()
    # insert must evict down to the bound (simple FIFO — correctness
    # never depends on a hit, only version-keyed identity)
    cache = pyds._session_scan_cache(spark)
    saved = dict(cache)
    try:
        for i in range(pyds._SCAN_CACHE_MAX + 10):
            cache[("pad", i)] = None
        cache.pop((os.path.abspath(t.path), 0, None), None)
        df = pyds.scan(spark, t.path)
        assert len(cache) <= pyds._SCAN_CACHE_MAX
        assert _rows(df) == _rows(t.read())
    finally:
        # don't leave pad keys behind for other tests
        cache.clear()
        cache.update(saved)
    # the cache is keyed by the session OBJECT (weakly), not id():
    # the registry maps this session to exactly its own dict
    assert pyds._scan_caches.get(spark) is cache
