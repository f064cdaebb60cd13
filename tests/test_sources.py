from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.sources import registry as SR


def test_partitioned_write_prunes(spark, sf_dir):
    """`index Hash(priority)` analog: partitionBy layout must produce
    partition-pruned scans."""
    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "orders_part")
        SR.write_table(orders, path, partition_by=["o_orderpriority"], sort_within_by=["o_orderdate"])
        back = SR.read_source(spark, path).where(F.col("o_orderpriority") == "1-URGENT")
        want = orders.where(F.col("o_orderpriority") == "1-URGENT").count()
        assert back.count() == want
        plan = back._jdf.queryExecution().executedPlan().toString()
        # partition filter present → directory pruning, not a full scan
        assert "PartitionFilters: [" in plan and "o_orderpriority" in plan.split("PartitionFilters:")[1][:200], plan[:1500]


def test_unique_key_write_dedups(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    doubled = cust.unionByName(cust)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "cust_unique")
        SR.write_table(doubled, path, unique_key=["c_custkey"])
        back = SR.read_source(spark, path)
        assert back.count() == cust.count()
        assert back.select("c_custkey").distinct().count() == cust.count()


def test_csv_json_roundtrip(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    with tempfile.TemporaryDirectory() as tmp:
        for fmt in ("csv", "json", "orc"):
            path = os.path.join(tmp, f"nation_{fmt}")
            SR.write_table(nation, path, fmt=fmt)
            back = SR.read_source(spark, path, fmt=fmt)
            assert back.count() == 25
            got = {tuple(r) for r in back.select("n_nationkey", "n_name", "n_regionkey").collect()}
            want = {tuple(r) for r in nation.collect()}
            assert got == want


# ---------------------------------------------------------------------------
# snapshot tables: copy-on-write MERGE / UPDATE / DELETE + time travel
# ---------------------------------------------------------------------------


def _snap_fixture(spark, tmp_path, partitioned=True):
    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(i, f"u{i}", i % 3, float(i * 10)) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "id long, name string, grp int, bal double")
    return SnapshotTable.create(
        spark, str(tmp_path / "t"), df, ["id"], partition_col="grp" if partitioned else None
    )


def test_snapshot_create_read_roundtrip(spark, tmp_path):
    t = _snap_fixture(spark, tmp_path)
    got = sorted(tuple(r) for r in t.read().collect())
    assert len(got) == 9 and got[0][0] == 1


def test_snapshot_merge_upsert_semantics(spark, tmp_path):
    """MERGE: matched keys fully replaced, unmatched inserted; result
    equals the plain anti-join+union the statement compiles to."""
    t = _snap_fixture(spark, tmp_path)
    updates = spark.createDataFrame(
        [(3, "u3x", 0, 999.0), (42, "new", 0, 1.0)],
        "id long, name string, grp int, bal double",
    )
    v = t.merge_upsert(updates)
    assert v == 1
    got = {r.id: (r.name, r.grp, r.bal) for r in t.read().collect()}
    assert got[3] == ("u3x", 0, 999.0)
    assert got[42] == ("new", 0, 1.0)
    assert len(got) == 10
    # time travel: v0 unchanged
    old = {r.id: r.name for r in t.read(version=0).collect()}
    assert old[3] == "u3" and 42 not in old


def test_snapshot_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """File-level reuse: partitions untouched by the MERGE keep their
    exact directory from the previous version in the manifest."""
    t = _snap_fixture(spark, tmp_path)
    updates = spark.createDataFrame(
        [(3, "u3x", 0, 999.0)], "id long, name string, grp int, bal double"
    )
    t.merge_upsert(updates)
    m = t._load()
    v0, v1 = m["versions"]["0"]["partitions"], m["versions"]["1"]["partitions"]
    assert v1["0"].startswith("data/v=1-")  # grp=0 rewritten (writer-unique dir)
    assert v1["1"] == v0["1"] and v1["2"] == v0["2"]  # others re-linked


def test_snapshot_merge_moves_key_across_partitions(spark, tmp_path):
    """An update that changes a row's partition value must remove the
    old copy (both source and destination partitions rewrite)."""
    t = _snap_fixture(spark, tmp_path)
    # id=4 lives in grp=1; move it to grp=2
    updates = spark.createDataFrame(
        [(4, "u4moved", 2, 40.0)], "id long, name string, grp int, bal double"
    )
    t.merge_upsert(updates)
    rows = [r for r in t.read().collect() if r.id == 4]
    assert len(rows) == 1 and rows[0].grp == 2


def test_snapshot_update_delete_where(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _snap_fixture(spark, tmp_path)
    t.update_where(F.col("bal") > 50, {"bal": F.col("bal") + 1})
    got = {r.id: r.bal for r in t.read().collect()}
    assert got[6] == 61.0 and got[4] == 40.0
    t.delete_where(F.col("id") == 9)
    assert 9 not in {r.id for r in t.read().collect()}
    ops = [h["op"] for h in t.history()]
    assert ops == ["create", "update_where", "delete_where"]


def test_snapshot_unpartitioned_table(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _snap_fixture(spark, tmp_path, partitioned=False)
    t.merge_upsert(
        spark.createDataFrame([(1, "x", 9, 0.0)], "id long, name string, grp int, bal double")
    )
    t.delete_where(F.col("id") == 2)
    got = {r.id: r.name for r in t.read().collect()}
    assert got[1] == "x" and 2 not in got and len(got) == 8


def test_snapshot_noop_mutation_commits_nothing(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _snap_fixture(spark, tmp_path)
    v = t.delete_where(F.col("id") == 12345)
    assert v == 0 and len(t.history()) == 1


def test_snapshot_update_where_can_move_partition(spark, tmp_path):
    """Regression: an update assigning the partition column must land
    the row in its new partition (both source and destination
    partitions rewrite) — not silently drop it."""
    from pyspark.sql import functions as F

    t = _snap_fixture(spark, tmp_path)
    t.update_where(F.col("id") == 4, {"grp": F.lit(2)})
    rows = [r for r in t.read().collect() if r.id == 4]
    assert len(rows) == 1 and rows[0].grp == 2
    assert len(t.read().collect()) == 9


def test_snapshot_null_partition_value_rejected(spark, tmp_path):
    import pytest

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame(
        [(1, "a", None, 1.0), (2, "b", 1, 2.0)], "id long, name string, grp int, bal double"
    )
    with pytest.raises(ValueError, match="NULL or empty-string 'grp'"):
        SnapshotTable.create(spark, str(tmp_path / "t"), df, ["id"], partition_col="grp")


def test_write_table_unique_key_covering_all_columns(spark, tmp_path):
    import herodb_spark.sources.registry as SR

    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k int, v string")
    path = str(tmp_path / "t")
    SR.write_table(df, path, unique_key=["k", "v"])
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [(1, "a"), (2, "b")]


def test_write_table_preserves_user_rn_column(spark, tmp_path):
    import herodb_spark.sources.registry as SR

    df = spark.createDataFrame([(1, 10, "x"), (1, 20, "y")], "k int, _rn int, v string")
    path = str(tmp_path / "t")
    SR.write_table(df, path, unique_key=["k"])
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and set(rows[0].asDict()) == {"k", "_rn", "v"}


# -- exactly-once streaming sink (streaming/sink.py) ---------------------


def test_snapshot_merge_txn_idempotent(spark, tmp_path):
    """The replay a streaming engine performs after a crash between
    sink write and checkpoint commit must be a no-op: same
    (sink_id, batch_id) applied twice changes nothing, and the txn
    watermark advances atomically with the data."""
    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, "a", 10.0)], "id long, grp string, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, ["id"], partition_col="grp")
    up = spark.createDataFrame([(1, "a", 99.0), (2, "b", 5.0)], "id long, grp string, v double")
    v1 = t.merge_upsert(up, txn=("s", 0))
    assert t.last_txn("s") == 0
    # replay of batch 0: skipped, version unchanged
    assert t.merge_upsert(up, txn=("s", 0)) == v1
    assert t.read().count() == 2
    # a different sink id is independent
    assert t.last_txn("other") == -1
    # empty batch still advances the watermark (commit-only)
    empty = up.where("id < 0")
    t.merge_upsert(empty, txn=("s", 1))
    assert t.last_txn("s") == 1 and t.read().count() == 2


def test_snapshot_streaming_sink_exactly_once(spark, tmp_path, sf_dir):
    """End-to-end: a per-user running-spend aggregation streams out of
    the events log through foreachBatch into a snapshot table; the
    final snapshot equals the batch aggregate, and manually replaying
    the last batch does not double-apply."""
    import os

    from pyspark.sql import functions as F

    from herodb_spark.catalog import load_table
    from herodb_spark.sources.snapshot import SnapshotTable
    from herodb_spark.streaming.ops import stream_events
    from herodb_spark.streaming.sink import SnapshotUpsertSink

    seed = spark.createDataFrame([], "user_id long, total double")
    table = SnapshotTable.create(spark, str(tmp_path / "spend"), seed, ["user_id"])
    sink = SnapshotUpsertSink(table, sink_id="spend")

    agg = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total"))
    )
    got = table.read()
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # crash-replay simulation: re-apply the last committed batch id
    last = table.last_txn("spend")
    assert last >= 0
    version_before = table.history()[-1]["version"]
    sink(want.limit(5), last)  # replay → must no-op
    assert table.history()[-1]["version"] == version_before


def test_snapshot_concurrent_write_detected(spark, tmp_path):
    """Optimistic concurrency: a writer whose read version was
    overtaken must get ConcurrentWriteError, and the winner's commit
    must remain intact (no lost update)."""
    from herodb_spark.sources.snapshot import ConcurrentWriteError, SnapshotTable

    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    path = str(tmp_path / "occ")
    t1 = SnapshotTable.create(spark, path, df, ["id"])
    t2 = SnapshotTable(spark, path)

    # t2 reads version 0, then t1 commits version 1 under it
    m2 = t2._load()
    t1.merge_upsert(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    m2["current"] = 1
    m2["versions"]["1"] = {"op": "merge_upsert", "partitions": m2["versions"]["0"]["partitions"]}
    with _pytest.raises(ConcurrentWriteError, match="advanced"):
        t2._commit(m2, expected_current=0)
    # winner intact
    assert t1.read().count() == 2
    assert not os.path.exists(os.path.join(path, "_commit.lock"))


def test_snapshot_writer_unique_data_dirs(spark, tmp_path):
    """Two mutations computing the SAME next version must write
    disjoint directories — the OCC loser's files can never alias into
    the winner's committed snapshot."""
    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "u"), df, ["id"])
    p1, _ = t._write_partitions(df, 5, None)
    p2, _ = t._write_partitions(df, 5, None)
    assert p1["_all"] != p2["_all"]


def test_snapshot_stale_lock_broken(spark, tmp_path):
    """A lock file orphaned by a killed writer (old mtime) must not
    wedge future commits."""
    import time as _time

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    path = str(tmp_path / "sl")
    t = SnapshotTable.create(spark, path, df, ["id"])
    lock = os.path.join(path, "_commit.lock")
    with open(lock, "w"):
        pass
    old = _time.time() - 120
    os.utime(lock, (old, old))
    v = t.merge_upsert(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    assert v == 1 and t.read().count() == 2
    assert not os.path.exists(lock)


def test_snapshot_write_job_count_constant_in_partitions(spark, tmp_path):
    """The copy-on-write writer must launch a CONSTANT number of Spark
    jobs regardless of how many partitions a mutation touches (one
    partitionBy dynamic write + the touched-set collects), not one job
    per partition value: a 5,000-partition MERGE at 100 TB must not pay
    5,000 scheduler round-trips."""
    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import SnapshotTable

    n_parts = 100
    df = spark.range(n_parts * 3).select(
        F.col("id"), (F.col("id") % n_parts).alias("grp"), F.lit(1.0).alias("v")
    )
    t = SnapshotTable.create(spark, str(tmp_path / "many"), df, ["id"], partition_col="grp")
    sc = spark.sparkContext
    sc.setJobGroup("snap-jobcount", "update touching all partitions")
    try:
        t.update_where(F.col("v") > 0, {"v": F.col("v") + 1})
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("snap-jobcount")
    # pre/post touched-set collects + the single dynamic write (+ AQE
    # sub-jobs); the point is O(1), far below the 100 partition values
    assert 0 < len(jobs) <= 10, f"expected O(1) jobs, got {len(jobs)}"
    got = t.read().agg(F.sum("v")).collect()[0][0]
    assert got == n_parts * 3 * 2.0
    # every partition rewritten into the single new version directory
    parts = t._load()["versions"]["1"]["partitions"]
    assert len(parts) == n_parts and all(rel.startswith("data/v=1-") for rel in parts.values())


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Co-bucketed tables must join with ZERO Exchange: the physical
    realization of `index Hash(custkey)` co-location (draft:44-47).
    At 100 TB this is the difference between shuffling both fact
    tables and a local merge per bucket."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    SR.write_bucketed(cust, "bkt_cust", ["c_custkey"], n_buckets=8)
    SR.write_bucketed(orders, "bkt_orders", ["c_custkey"], n_buckets=8)
    # pin the shuffle-join path: at unit SF the planner would rather
    # broadcast, which both hides and doesn't need bucketing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = SR.read_bucketed(spark, "bkt_cust").join(
            SR.read_bucketed(spark, "bkt_orders"), "c_custkey"
        )
        assert joined.count() == orders.count()  # every order has a customer
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:1500]
        assert "SortMergeJoin" in plan
        # same data, unbucketed → the join must shuffle both sides
        # (sanity that the assertion above is meaningful)
        plain_plan = (
            cust.join(orders, "c_custkey")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_cust")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_csv_explicit_schema_keeps_header_option(spark, sf_dir):
    """The documented production path (explicit schema) must not parse
    the header line write_table always emits as a data row."""
    nation = load_table(spark, sf_dir, "nation")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "nation_csv_schema")
        SR.write_table(nation, path, fmt="csv")
        back = SR.read_source(
            spark, path, fmt="csv",
            schema="n_nationkey int, n_name string, n_regionkey int",
        )
        assert back.count() == 25
        assert {r.n_nationkey for r in back.collect()} == set(range(25))


def test_snapshot_empty_string_partition_value_rejected(spark, tmp_path):
    """Spark's dynamic-partition writer folds '' into the NULL
    directory, so empty-string keys are rejected with an error that
    SAYS so (round-5 review finding: the message previously claimed
    NULL)."""
    import pytest

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, ""), (2, "a")], "id long, grp string")
    with pytest.raises(ValueError, match="NULL or empty-string"):
        SnapshotTable.create(spark, str(tmp_path / "es"), df, ["id"], partition_col="grp")


def test_snapshot_vacuum_and_empty_read(spark, tmp_path):
    """VACUUM keeps the newest versions, physically removes directories
    only the dropped versions referenced (file-level reuse respected:
    a directory shared with a kept version survives), names vacuumed
    versions in the time-travel error, and a delete-everything
    mutation stays readable as an empty table via the manifest
    schema."""
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(1, 10)], "id long, grp int, v double"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "vac"), df, ["id"], partition_col="grp")
    t.update_where(F.col("grp") == 0, {"v": F.col("v") + 1})  # v1 rewrites grp=0 only
    t.update_where(F.col("grp") == 1, {"v": F.col("v") + 1})  # v2 rewrites grp=1 only
    res = t.vacuum(keep_last=1)
    assert res["dropped_versions"] == [0, 1]
    # v2 still reads fully: its manifest re-links grp=2 from v0 and
    # grp=0 from v1 — those SHARED dirs must survive the vacuum
    assert t.read().count() == 9
    got = {r.id: r.v for r in t.read().collect()}
    assert got[3] == 4.0 and got[4] == 5.0  # both updates visible
    for rel in res["removed_dirs"]:
        assert not _os.path.exists(str(tmp_path / "vac" / rel))
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=0)
    # delete-all partitions: readable as empty with the full schema
    t.delete_where(F.lit(True))
    empty = t.read()
    assert empty.count() == 0 and empty.columns == ["id", "grp", "v"]


def test_snapshot_read_changes_cdc(spark, tmp_path):
    """Change data feed between versions: inserts, deletes, and
    update pre/post images, computed only over partitions whose
    directories differ between the two manifests."""
    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(1, 10)], "id long, grp int, v double"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "cdc"), df, ["id"], partition_col="grp")
    t.merge_upsert(
        spark.createDataFrame([(3, 0, 99.0), (42, 0, 1.0)], "id long, grp int, v double")
    )
    t.delete_where(F.col("id") == 7)
    changes = {(r.id, r._change): r.v for r in t.read_changes(0).collect()}
    assert changes[(42, "insert")] == 1.0
    assert changes[(7, "delete")] == 7.0
    assert changes[(3, "update_pre")] == 3.0 and changes[(3, "update_post")] == 99.0
    assert len(changes) == 4, changes
    # version-to-version slice: the delete-only step
    step2 = {(r.id, r._change) for r in t.read_changes(1, 2).collect()}
    assert step2 == {(7, "delete")}
    # identical versions → empty feed
    assert t.read_changes(2, 2).count() == 0


def test_read_changes_partition_move_is_delete_plus_insert(spark, tmp_path):
    """A key whose partition-column value changes is a delete from its
    old partition plus an insert into the new one — the encoding the
    connector's per-partition feed produces. A same-partition change
    keeps the update_pre/update_post pair."""
    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, 0, 1.0), (2, 0, 2.0)], "id long, grp int, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "mv"), df, ["id"], partition_col="grp")
    t.merge_upsert(
        spark.createDataFrame([(1, 1, 1.0), (2, 0, 5.0)], "id long, grp int, v double")
    )
    ch = t.read_changes(0, 1)
    assert ch.columns == ["id", "grp", "v", "_change"]
    assert sorted(tuple(r) for r in ch.collect()) == [
        (1, 0, 1.0, "delete"),
        (1, 1, 1.0, "insert"),
        (2, 0, 2.0, "update_pre"),
        (2, 0, 5.0, "update_post"),
    ]


def test_vacuum_seq_fences_stale_writers_and_sweeps_orphans(spark, tmp_path):
    """Round-5 review findings: (1) vacuum bumps the commit seq, so a
    mutation that read the manifest BEFORE the vacuum cannot commit a
    manifest resurrecting dropped versions whose files are gone;
    (2) a vacuum with nothing to drop still sweeps orphaned
    directories (the crash-between-commit-and-delete recovery path)."""
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import ConcurrentWriteError, SnapshotTable

    df = spark.createDataFrame([(1, 0, 1.0), (2, 1, 2.0)], "id long, grp int, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "f"), df, ["id"], partition_col="grp")
    t.update_where(F.col("grp") == 0, {"v": F.col("v") + 1})
    # stale snapshot of the manifest, taken before the vacuum
    stale = t._load()
    stale_seq = t._seq(stale)
    t.vacuum(keep_last=1)
    with pytest.raises(ConcurrentWriteError):
        t._commit(stale, expected_current=stale["current"], expected_seq=stale_seq)
    # orphan-only sweep: plant an unreferenced version dir, vacuum with
    # nothing droppable still collects it
    orphan = tmp_path / "f" / "data" / "v=9-deadbeef" / "__p=0"
    orphan.mkdir(parents=True)
    (orphan / "junk.parquet").write_bytes(b"x")
    res = t.vacuum(keep_last=5)
    assert res["dropped_versions"] == []
    assert "data/v=9-deadbeef/__p=0" in res["removed_dirs"]
    assert not _os.path.exists(str(orphan))
    assert t.read().count() == 2


# ---------------------------------------------------------------------------
# schema evolution: add_columns as a metadata-only commit (round-6)
# ---------------------------------------------------------------------------


def test_add_columns_metadata_only_commit(spark, tmp_path):
    """Rewrite.md:17-18: schema change without touching data files.
    The evolution commit must re-link every partition (no rewrite),
    old files read NULL for the new column, and mutations with the
    new schema then work."""
    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(i, f"u{i}", i % 3, float(i * 10)) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "id long, name string, grp int, bal double")
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), df,
                             key_cols=["id"], partition_col="grp")
    before = t._load()["versions"]["0"]["partitions"]
    v = t.add_columns({"score": "double", "tags": "array<string>"})
    assert v == 1
    # metadata-only: identical partition directories re-linked
    assert t._load()["versions"]["1"]["partitions"] == before
    got = t.read()
    assert set(got.columns) == {"id", "name", "grp", "bal", "score", "tags"}
    assert got.where(F.col("score").isNotNull()).count() == 0
    # a MERGE with the evolved schema only rewrites touched partitions
    upd = spark.createDataFrame(
        [(1, "u1", 1 % 3, 11.0, 0.5, ["a"])],
        "id long, name string, grp int, bal double, score double, tags array<string>",
    )
    t.merge_upsert(upd)
    r = {x.id: (x.bal, x.score) for x in t.read().collect()}
    assert r[1] == (11.0, 0.5) and r[2] == (20.0, None)


def test_add_columns_time_travel_and_cdc_across_boundary(spark, tmp_path):
    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, bal double")
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), df, key_cols=["id"])
    t.add_columns({"score": "double"})
    upd = spark.createDataFrame([(1, 10.0, 0.9)], "id long, bal double, score double")
    t.merge_upsert(upd)
    # pre-evolution read returns exactly the OLD columns
    assert set(t.read(version=0).columns) == {"id", "bal"}
    assert set(t.read(version=1).columns) == {"id", "bal", "score"}
    # CDC across the boundary: id 1's score NULL -> 0.9 is an update
    ch = {(r.id, r._change): r for r in t.read_changes(0, 2).collect()}
    assert (1, "update_pre") in ch and ch[(1, "update_pre")].score is None
    assert ch[(1, "update_post")].score == 0.9
    assert (2, "update_pre") not in ch  # untouched row, no change rows


def test_add_columns_rejects_redefine_and_pins_schema_history(spark, tmp_path):
    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, 10.0)], "id long, bal double")
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), df, key_cols=["id"])
    with pytest.raises(ValueError, match="additive"):
        t.add_columns({"bal": "string"})  # retype = narrowing, refused
    t.add_columns({"n": "int"})
    # overwrite with a frame missing the evolved column is refused
    with pytest.raises(ValueError, match="add_columns"):
        t.overwrite(spark.createDataFrame([(1, 1.0)], "id long, bal double"))


def test_compact_merges_small_files_content_identical(spark, tmp_path):
    """OPTIMIZE: after many small upserts a partition holds many
    parquet files; compact() rewrites ONLY fragmented partitions into
    one file each, content bit-identical, untouched partitions
    re-linked, old versions still readable."""
    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(i, f"u{i}", i % 2, float(i)) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "id long, name string, grp int, bal double").repartition(4)
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), df,
                             key_cols=["id"], partition_col="grp")
    m = t._load()
    parts0 = m["versions"]["0"]["partitions"]

    def nfiles(rel):
        d = os.path.join(t.path, rel)
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    assert any(nfiles(rel) > 1 for rel in parts0.values())
    before = sorted(tuple(r) for r in t.read().collect())
    rep = t.compact(max_files_per_partition=1)
    assert rep["compacted"] and rep["files_after"] < rep["files_before"]
    m2 = t._load()
    cur = m2["versions"][str(m2["current"])]["partitions"]
    for pv in rep["compacted"]:
        assert nfiles(cur[pv]) == 1
    assert sorted(tuple(r) for r in t.read().collect()) == before
    assert t.history()[-1]["op"] == "compact"
    # time travel to the fragmented version still works
    assert sorted(tuple(r) for r in t.read(version=0).collect()) == before
    # idempotent: nothing further to compact
    assert t.compact(max_files_per_partition=1)["compacted"] == []


def test_manifest_tracks_file_counts_and_compact_lists_nothing(spark, tmp_path):
    """Round-6 verdict note #3: every commit records per-partition
    parquet file counts in its manifest entry, so compact()'s
    fragmentation check reads the manifest only — on object storage
    that's one GET instead of N directory LISTs. Pinned by (a) counts
    in the manifest matching the real directories, and (b) a compact()
    no-op making zero os.listdir calls."""
    import os as _os

    from herodb_spark.sources import snapshot as S

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, p int, v double"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "fc"), df, ["id"], partition_col="p")
    t.merge_upsert(
        spark.createDataFrame([(100, 1, 1.0)], "id long, p int, v double")
    )
    m = t._load()
    for v, entry in m["versions"].items():
        assert set(entry["files"]) == set(entry["partitions"]), f"v{v} missing counts"
        for pv, rel in entry["partitions"].items():
            real = sum(
                1
                for f in _os.listdir(_os.path.join(t.path, rel))
                if f.endswith(".parquet")
            )
            assert entry["files"][pv] == real, f"v{v} partition {pv}"

    calls: list[str] = []
    orig = _os.listdir

    def spy(path="."):
        calls.append(str(path))
        return orig(path)

    S.os.listdir = spy
    try:
        rep = t.compact(max_files_per_partition=10**6)  # nothing fragmented
    finally:
        S.os.listdir = orig
    assert rep["compacted"] == []
    assert calls == [], f"compact() read path listed directories: {calls[:3]}"


def test_mutation_program_persisted_in_history(spark, tmp_path):
    """Rewrite.md:6 "save query to log": mutations carry the source
    statement into the manifest version entry; history() surfaces it
    for audit/replay."""
    from pyspark.sql import functions as F

    from herodb_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "pg"), df, ["id"])
    t.merge_upsert(
        spark.createDataFrame([(3, 30.0)], "id long, v double"),
        program="set T(3, 30.0)",
    )
    t.update_where(F.col("id") == 1, {"v": F.lit(11.0)}, program="update T(id: 1, v: 11.0)")
    t.delete_where(F.col("id") == 2, program="remove T(x, _) :- x = 2")
    hist = t.history()
    assert [h["program"] for h in hist] == [
        None,
        "set T(3, 30.0)",
        "update T(id: 1, v: 11.0)",
        "remove T(x, _) :- x = 2",
    ]
    # the program is durable manifest metadata, not handle state
    t2 = SnapshotTable(spark, t.path)
    assert t2.history()[1]["program"] == "set T(3, 30.0)"


def test_zone_map_stats_recorded_and_pruned_read(spark, tmp_path):
    """Zone maps (the `index Ordered(...)` analog at the durable
    layer): every commit records per-partition [min, max] of the key
    columns; read(ranges=...) skips partitions whose interval cannot
    intersect — verified via inputFiles (skipped dirs never reach the
    scan) — while never losing a qualifying row."""
    from herodb_spark.sources.snapshot import SnapshotTable

    # ids cluster by partition: grp g holds ids [100g, 100g+9]
    rows = [(100 * g + i, g, float(i)) for g in range(4) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "zm"), df, ["id"], partition_col="grp")
    m = t._load()
    st = m["versions"]["0"]["stats"]
    assert set(st) == {"0", "1", "2", "3"}
    assert st["2"]["id"] == [200, 209]
    # pruned read: ids 95..105 can only live in grp 0 or 1
    pruned = t.read(ranges={"id": (95, 105)})
    files = pruned.inputFiles()
    assert files and all("__p=0" in f or "__p=1" in f for f in files)
    got = sorted(r.id for r in pruned.where(F.col("id").between(95, 105)).collect())
    assert got == list(range(100, 106))
    # a mutation refreshes stats for the touched partition only
    t.merge_upsert(spark.createDataFrame([(250, 2, 1.0)], "id long, grp int, v double"))
    m2 = t._load()
    st2 = m2["versions"]["1"]["stats"]
    assert st2["2"]["id"] == [200, 250]
    assert st2["0"] == st["0"]  # untouched partitions carry forward
    # all-excluding ranges → empty frame with the right schema
    assert t.read(ranges={"id": (10_000, None)}).count() == 0
    assert t.read(ranges={"id": (10_000, None)}).columns == ["id", "grp", "v"]


def test_zone_map_skipping_is_safe_without_stats(spark, tmp_path):
    """Partitions lacking stats are always scanned: strip the stats
    from the manifest (legacy format) and confirm ranged reads still
    return every qualifying row."""
    import json

    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(i, i % 2, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "lg"), df, ["id"], partition_col="grp")
    m = t._load()
    for e in m["versions"].values():
        e.pop("stats", None)
    with open(t._manifest_path(), "w") as f:
        json.dump(m, f)
    pruned = t.read(ranges={"id": (3, 5)})
    assert sorted(r.id for r in pruned.where("id between 3 and 5").collect()) == [3, 4, 5]


def test_zone_map_covers_partition_column(spark, tmp_path):
    """The partition column participates in zone maps (min == max ==
    the value per partition), so TYPED equality/range pruning on it
    works through read(ranges=...) — something the string directory
    layout alone cannot compare correctly."""
    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(100 * g + i, g, float(i)) for g in range(4) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    t = SnapshotTable.create(spark, str(tmp_path / "pz"), df, ["id"], partition_col="grp")
    st = t._load()["versions"]["0"]["stats"]
    assert st["2"]["grp"] == [2, 2]
    pruned = t.read(ranges={"grp": (2, 2)})
    assert all("__p=2" in f for f in pruned.inputFiles())
    assert pruned.count() == 5
    # numeric range spanning two partitions
    two = t.read(ranges={"grp": (1, 2)})
    assert {f.split("__p=")[1][0] for f in two.inputFiles()} == {"1", "2"}


# ---------------------------------------------------------------- migration
# (Kernel/README.md ADMINISTRATION "Upload a new data package
# definition with data moving procedures" — SnapshotTable.migrate)


def _mk_mig_table(spark, tmp_path):
    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame(
        [(1, 0, 10, "a"), (2, 1, 20, "b"), (3, 0, 30, "c")],
        "k long, g long, v long, name string",
    )
    return SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), seed, key_cols=["k"],
        partition_col="g",
    )


def test_migrate_rename_retype_drop_backfill(spark, tmp_path):
    """One migrate commit: rename v->score with a retype, derive a
    backfilled label, DROP name — old versions stay readable at their
    old schema, the program text persists, and the new shape accepts
    ordinary mutations afterwards."""
    t = _mk_mig_table(spark, tmp_path)
    ver = t.migrate(
        {"k": "k", "g": "g", "score": "CAST(v AS DOUBLE) / 2",
         "label": "CONCAT(name, '!')"},
        program="update schema t (...);",
    )
    assert ver == 1
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, 0, 5.0, "a!"), (2, 1, 10.0, "b!"), (3, 0, 15.0, "c!")
    ]
    # time travel across the boundary: exactly the old columns/values
    assert sorted(tuple(r) for r in t.read(version=0).collect()) == [
        (1, 0, 10, "a"), (2, 1, 20, "b"), (3, 0, 30, "c")
    ]
    hist = {h["version"]: h for h in t.history()}
    assert hist[1]["op"] == "migrate"
    assert hist[1]["program"] == "update schema t (...);"
    # the new shape is a fully functional table
    t.merge_upsert(spark.createDataFrame(
        [(4, 1, 2.0, "d!")], "k long, g long, score double, label string"
    ))
    assert t.read().where("k = 4").count() == 1
    # zone maps recorded for the new version: pruned read equals plain
    got = sorted(tuple(r) for r in t.read(ranges={"k": (2, 3)}).where(
        "k between 2 and 3").collect())
    assert got == [(2, 1, 10.0, "b!"), (3, 0, 15.0, "c!")]


def test_migrate_cdc_rules(spark, tmp_path):
    """CDC across a same-key migration follows the to-version-schema
    rule (pre side surfaces NULL for introduced columns); across a
    KEY-SET migration it is refused."""
    t = _mk_mig_table(spark, tmp_path)
    v1 = t.migrate({"k": "k", "score": "v * 2"})
    ch = {(r.k, r._change): r.score for r in t.read_changes(0, v1).collect()}
    assert ch[(1, "update_post")] == 20 and ch[(1, "update_pre")] is None
    v2 = t.migrate({"kk": "CAST(k AS STRING)", "score": "score"}, key_cols=["kk"])
    with pytest.raises(ValueError, match="key-set migration"):
        t.read_changes(0, v2)
    # within a constant-key span CDC still works
    assert t.read_changes(0, v1).count() == 6  # 3 pre + 3 post


def test_migrate_cdc_across_retype(spark, tmp_path):
    """CDC across a SAME-NAME retype migration (long v -> string v):
    the old side's INT64 files cannot be scanned at the to-version
    string schema (parquet refuses non-widening conversions), so each
    side reads at its own recorded schema and conforms by explicit
    cast — the pre row surfaces the old value as its string form."""
    t = _mk_mig_table(spark, tmp_path)
    v1 = t.migrate({"k": "k", "v": "CAST(v * 2 AS STRING)"})
    ch = {(r.k, r._change): r.v for r in t.read_changes(0, v1).collect()}
    assert ch[(1, "update_pre")] == "10"  # cast, not NULL, not a scan error
    assert ch[(1, "update_post")] == "20"
    # a value-preserving retype conforms to identical rows: no changes
    v2 = t.migrate({"k": "k", "v": "v"})
    assert t.read_changes(v1, v2).count() == 0


def test_migrate_partition_col_change_and_drop(spark, tmp_path):
    """A migration dropping the partition column leaves the table
    unpartitioned; declaring a new partition column repartitions the
    layout — both keep old versions readable."""
    t = _mk_mig_table(spark, tmp_path)
    t.migrate({"k": "k", "v": "v"})  # g dropped -> unpartitioned
    assert t._load()["partition_col"] is None
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, 10), (2, 20), (3, 30)]
    t2 = _mk_mig_table(spark, tmp_path.joinpath("x") if hasattr(tmp_path, "joinpath") else tmp_path)
    del t2


def test_migrate_validation(spark, tmp_path):
    t = _mk_mig_table(spark, tmp_path)
    with pytest.raises(ValueError, match="at least one column"):
        t.migrate({})
    with pytest.raises(ValueError, match="key column"):
        t.migrate({"v": "v"})  # k gone, no key_cols given
    with pytest.raises(ValueError, match="not in the new schema"):
        t.migrate({"k": "k"}, partition_col="nope")


def test_migrate_through_database_transaction(spark, tmp_path):
    """Transaction.migrate publishes the new definition with the same
    atomic pin swap as any member mutation."""
    from herodb_spark.sources.database import SnapshotDatabase

    db = SnapshotDatabase.create(spark, os.path.join(str(tmp_path), "db"))
    db.create_table(
        "t",
        spark.createDataFrame([(1, 5), (2, 6)], "k long, v long"),
        key_cols=["k"],
    )
    with db.transaction() as txn:
        txn.migrate("t", {"k": "k", "w": "v * 10"})
    assert sorted(tuple(r) for r in db.read("t").collect()) == [(1, 50), (2, 60)]
    # the db pin advanced atomically with the migration
    assert db.read("t", db_version=db._load()["current"]).columns == ["k", "w"]


def test_migrate_heroql_update_schema_statement(spark, tmp_path):
    """The language surface: `update schema T (col = expr, ...);` —
    session re-binds at the new shape, old versions reachable via
    `T@k`, statement text in the program log."""
    from herodb_spark.heroql import HeroQL, HeroQLError
    from herodb_spark.sources.snapshot import SnapshotTable

    seed = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    snap = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), seed, key_cols=["k"]
    )
    hql = HeroQL(spark)
    hql.register_snapshot("T", snap)
    res = hql.run("""
update schema T (k = k, points = v * 3);
query (k, p) :- T(k, p);
query (k, v) :- T@0(k, v);
""")
    assert sorted(tuple(r) for r in res.queries[0].collect()) == [(1, 30), (2, 60)]
    assert sorted(tuple(r) for r in res.queries[1].collect()) == [(1, 10), (2, 20)]
    assert any(
        (h.get("program") or "").startswith("update schema T")
        for h in snap.history()
    )
    # further mutations on the migrated shape work in the language
    hql.run("set T(3, 9);")
    assert hql.run("query (k, p) :- T(k, p);").queries[0].count() == 3
    with pytest.raises(HeroQLError, match="snapshot-backed"):
        hql2 = HeroQL(spark)
        hql2.register("M", spark.createDataFrame([(1,)], "a long"))
        hql2.run("update schema M (a = a);")


def test_insert_only_literal_hulls_match_scan(spark, tmp_path):
    """r14 optimization: a merge_upsert whose updates are a literal
    LocalRelation and whose keys the zone maps prove absent everywhere
    (a pure insert) computes its key hulls DRIVER-SIDE — no union-hull
    Spark job. The committed version entry must be identical to the
    scan path's (same key_ranges, stats, partition set, file counts),
    and every unprovable case must fall back to the scan."""
    from herodb_spark.session import literal_df
    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(10 * g + i, g, f"r{g}_{i}") for g in range(3) for i in range(4)]
    base = spark.createDataFrame(rows, "id long, grp int, s string")
    schema = "id long, grp int, s string"
    ins = [(500, 0, "a"), (501, 2, "b")]  # beyond every partition's id zone

    t_lit = SnapshotTable.create(
        spark, str(tmp_path / "lit"), base, ["id"], partition_col="grp"
    )
    t_scan = SnapshotTable.create(
        spark, str(tmp_path / "scan"), base, ["id"], partition_col="grp"
    )
    calls = []
    orig = SnapshotTable._union_hulls
    orig_fast = SnapshotTable._insert_only_hulls

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    SnapshotTable._union_hulls = spy
    try:
        t_lit.merge_upsert(literal_df(spark, ins, schema))
        assert not calls, "provably-insert-only literal merge ran the hull job"
        # control: the SAME literal frame through the hull-scan path
        # (fast path disabled) — isolates the hull change, so the two
        # committed version entries must be identical except for the
        # writer-unique directory tokens
        SnapshotTable._insert_only_hulls = lambda self, *a, **k: None
        t_scan.merge_upsert(literal_df(spark, ins, schema))
        assert calls, "disabled fast path must use the hull scan"
    finally:
        SnapshotTable._union_hulls = orig
        SnapshotTable._insert_only_hulls = orig_fast
    e_lit = t_lit._load()["versions"]["1"]
    e_scan = t_scan._load()["versions"]["1"]
    assert e_lit["key_ranges"] == e_scan["key_ranges"] == {
        "0": {"id": [500, 500]}, "2": {"id": [501, 501]},
    }
    assert e_lit["stats"] == e_scan["stats"]
    assert sorted(e_lit["partitions"]) == sorted(e_scan["partitions"])
    assert e_lit["files"] == e_scan["files"]
    assert sorted(map(tuple, t_lit.read().collect())) == sorted(
        map(tuple, t_scan.read().collect())
    )
    # a key INSIDE a zone range is unprovable → hull scan fallback,
    # and the merge still lands the row
    calls.clear()
    SnapshotTable._union_hulls = spy
    try:
        t_lit.merge_upsert(literal_df(spark, [(5, 0, "x")], schema))
        assert calls, "in-zone key must fall back to the hull scan"
    finally:
        SnapshotTable._union_hulls = orig
    assert t_lit.read().where("id = 5 AND s = 'x'").count() == 1


def test_insert_only_hull_gates(spark, tmp_path):
    """Every rejection gate of _insert_only_hulls returns None (scan
    fallback); the string-keyed positive case folds hulls equal to the
    Spark union-hull job's output."""
    from herodb_spark.session import literal_df
    from herodb_spark.sources.snapshot import SnapshotTable

    rows = [(10 * g + i, g, f"r{g}_{i}") for g in range(3) for i in range(4)]
    base = spark.createDataFrame(rows, "id long, grp int, s string")
    schema = "id long, grp int, s string"
    t = SnapshotTable.create(
        spark, str(tmp_path / "g"), base, ["id"], partition_col="grp"
    )
    m = t._load()
    lit = literal_df(spark, [(900, 1, "z")], schema)
    ok = t._insert_only_hulls(m, 0, lit, ["id"], "grp", ["id"])
    assert ok == {"1": {"id": [900, 900]}}
    # gate: non-LocalRelation plan
    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(900, 1, "z")], 1), schema
    )
    assert t._insert_only_hulls(m, 0, rdd_df, ["id"], "grp", ["id"]) is None
    # gate: no stat keys to prove absence with
    assert t._insert_only_hulls(m, 0, lit, ["id"], "grp", []) is None
    # gate: null key value
    lit_null = literal_df(spark, [(None, 1, "z")], schema)
    assert t._insert_only_hulls(m, 0, lit_null, ["id"], "grp", ["id"]) is None
    # gate: missing stats entry for an existing partition
    m_nostats = {
        **m,
        "versions": {
            **m["versions"],
            "0": {**m["versions"]["0"], "stats": {}},
        },
    }
    assert t._insert_only_hulls(m_nostats, 0, lit, ["id"], "grp", ["id"]) is None
    # gate: key inside a partition's zone (grp 1 holds ids 10..13, so
    # 11 is not disprovable — it may or may not exist there)
    lit_in = literal_df(spark, [(11, 1, "z")], schema)
    assert t._insert_only_hulls(m, 0, lit_in, ["id"], "grp", ["id"]) is None
    # gate: row cap
    prev = SnapshotTable._LITERAL_HULL_MAX_ROWS
    SnapshotTable._LITERAL_HULL_MAX_ROWS = 0
    try:
        assert t._insert_only_hulls(m, 0, lit, ["id"], "grp", ["id"]) is None
    finally:
        SnapshotTable._LITERAL_HULL_MAX_ROWS = prev
    # string-keyed positive case: driver fold == the Spark hull job
    ts = SnapshotTable.create(
        spark, str(tmp_path / "gs"),
        spark.createDataFrame(rows, "id long, grp int, s string"),
        ["s"], partition_col="grp",
    )
    ms = ts._load()
    lit_s = literal_df(spark, [(1, 0, "zzz"), (2, 0, "zza")], schema)
    got = ts._insert_only_hulls(ms, 0, lit_s, ["s"], "grp", ["s"])
    want = ts._union_hulls(
        [lit_s, ts.read().join(lit_s.select("s"), ["s"], "left_semi")],
        "grp", ["s"],
    )
    assert got == want == {"0": {"s": ["zza", "zzz"]}}
    # gate: float/double-typed key columns stay on the scan path
    td = SnapshotTable.create(
        spark, str(tmp_path / "gd"),
        spark.createDataFrame([(1.5, 0, "a")], "id double, grp int, s string"),
        ["id"], partition_col="grp",
    )
    md = td._load()
    lit_d = literal_df(spark, [(99.5, 0, "z")], "id double, grp int, s string")
    assert td._insert_only_hulls(md, 0, lit_d, ["id"], "grp", ["id"]) is None


def test_date_timestamp_zone_maps(spark, tmp_path):
    """r14 (r13 verdict #6): date/timestamp key columns now carry zone
    maps, recorded as fixed-width ISO strings whose lexicographic
    order equals temporal order (`_enc_stat`). Date stats come from
    the parquet footers when provably exact; timestamp stats always
    take the scan fallback (INT96 default + timezone adjustment make
    footer bounds unprovable). Decimal stays un-stat-ed: no
    order-preserving JSON encoding survives the consumers' duck-typed
    comparisons. The stats equal a brute-force scan for every commit
    op (tests/test_zone_maps.py)."""
    import datetime as dt

    from herodb_spark.sources.snapshot import SnapshotTable, _enc_stat

    d0 = dt.date(2024, 3, 5)
    t0 = dt.datetime(2024, 3, 5, 12, 30, 45, 1)
    rows = [
        (10 * g + i, g, d0 + dt.timedelta(days=30 * g + i),
         t0 + dt.timedelta(minutes=30 * g + i))
        for g in range(3)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id long, grp int, d date, ts timestamp")
    t = SnapshotTable.create(
        spark, str(tmp_path / "dt"), df, ["id", "d", "ts"], partition_col="grp"
    )
    m = t._load()
    st = m["versions"]["0"]["stats"]
    # encoded, fixed-width, JSON-round-tripped (manifest was re-loaded)
    assert st["0"]["d"] == ["2024-03-05", "2024-03-08"]
    assert st["0"]["ts"][0] == "2024-03-05 12:30:45.000001"
    assert st["2"]["d"] == ["2024-05-04", "2024-05-07"]
    # read-side pruning: date range bounds encode to the manifest form
    lo, hi = dt.date(2024, 3, 1), dt.date(2024, 3, 31)
    assert not SnapshotTable._skippable(st["0"], {"d": (lo, hi)})
    assert SnapshotTable._skippable(st["2"], {"d": (lo, hi)})
    got = sorted(
        r["id"] for r in t.read(ranges={"d": (lo, hi)}).where(
            (F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi))
        ).collect()
    )
    assert got == [r[0] for r in rows if lo <= r[2] <= hi]
    # timestamp pruning likewise (same-type string comparison)
    assert SnapshotTable._skippable(
        st["2"], {"ts": (t0, t0 + dt.timedelta(minutes=3))}
    )
    # unpartitioned create encodes too
    tu = SnapshotTable.create(
        spark, str(tmp_path / "dtu"), df, ["id", "d", "ts"]
    )
    stu = tu._load()["versions"]["0"]["stats"]["_all"]
    assert stu["d"] == ["2024-03-05", "2024-05-07"]
    assert stu["ts"][1] == _enc_stat(max(r[3] for r in rows))
    # merge on a date-stat-keyed table: hulls encode, manifest commits
    # (json.dump would raise on raw dates), conflict intervals compare
    up = spark.createDataFrame(
        [(500, 0, dt.date(2030, 1, 1), t0)], "id long, grp int, d date, ts timestamp"
    )
    v = t.merge_upsert(up)
    kr = t._load()["versions"][str(v)]["key_ranges"]
    assert kr["0"]["d"] == ["2030-01-01", "2030-01-01"]
    # decimal keys stay out of the stat set entirely
    dfc = spark.createDataFrame(
        [(1, 0)], "id long, grp int"
    ).withColumn("c", F.col("id").cast("decimal(10,2)"))
    tc = SnapshotTable.create(
        spark, str(tmp_path / "dec"), dfc, ["c"], partition_col="grp"
    )
    assert tc._load()["versions"]["0"]["stats"] == {"0": {"grp": [0, 0]}}
    # _enc_stat order-isomorphism on the tricky edges: microsecond
    # neighbors, fixed-width years below 1000
    pairs = [
        (dt.datetime(2024, 1, 1, 0, 0, 0, 999999), dt.datetime(2024, 1, 1, 0, 0, 1)),
        (dt.date(999, 12, 31), dt.date(1000, 1, 1)),
    ]
    for a, b in pairs:
        assert a < b and _enc_stat(a) < _enc_stat(b), (a, b)
