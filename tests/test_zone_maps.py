"""Zone maps (per-partition and per-file [min, max] of key columns in
the snapshot manifest) have one producer, `SnapshotTable._zone_maps`.
The oracle here is brute force: for every commit op, both layouts and
every stat-able key type, the stats a version records equal F.min /
F.max over the files that version names. Key types span both sources
of the bounds — footer-provable (long, short string, date) and the
scan fallback (timestamp, a double with a 0.0 bound, a NaN-bearing
double, a 64-byte string). A `format("herodb")` overwrite commits
without a session, so it cannot scan: its partitions record exact
stats or none, and footer-provable keys always record them."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from pyspark.sql import functions as F

from herodb_spark.sources import pyds
from herodb_spark.sources.snapshot import SnapshotTable, _enc_stat

KEYS = {
    "long": ("bigint", lambda i: 7 * i - 20),
    "string": ("string", lambda i: f"k{i:03d}"),
    "date": ("date", lambda i: dt.date(2024, 1, 1) + dt.timedelta(days=3 * i)),
    "timestamp": (
        "timestamp",
        lambda i: dt.datetime(2024, 1, 1, 5, 6, 7, 123) + dt.timedelta(hours=5 * i, microseconds=i),
    ),
    "double_zero": ("double", lambda i: 0.5 * i),
    "double_nan": ("double", lambda i: float("nan") if i == 5 else 1.25 * i),
    "string64": ("string", lambda i: "x" * 64 + f"{i:03d}"),
}
OPS = [
    "create", "migrate", "overwrite", "herodb_overwrite", "merge_upsert",
    "update_where", "delete_where", "cluster",
]
FOOTER_KEYS = ("long", "string", "date")


def _table(spark, path, key, partitioned, n=12):
    typ, f = KEYS[key]
    df = spark.createDataFrame(
        [(f(i), i % 3, i) for i in range(n)], f"k {typ}, grp int, v long"
    )
    return SnapshotTable.create(
        spark, path, df, ["k"], partition_col="grp" if partitioned else None
    )


def _commit(spark, t, op, key, partitioned):
    typ, f = KEYS[key]
    if op == "migrate":
        t.migrate({"k": F.col("k"), "grp": F.col("grp"), "v": F.col("v") * 2})
    elif op == "overwrite":
        t.overwrite(t.read().where(F.col("v") >= 2))
    elif op == "herodb_overwrite":
        pyds.register(spark)
        t.read().where(F.col("v") >= 2).write.format("herodb").option(
            "path", t.path
        ).mode("overwrite").save()
    elif op == "merge_upsert":
        t.merge_upsert(spark.createDataFrame(
            [(f(i), i % 3, 100 + i) for i in (1, 20, 21)], f"k {typ}, grp int, v long"
        ))
    elif op == "update_where":
        t.update_where(F.col("v") == 4, {"v": F.lit(99).cast("long")})
    elif op == "delete_where":
        # empties partition 2 on the partitioned layout
        t.delete_where((F.col("v") <= 1) | (F.col("grp") == 2))
    elif op == "cluster":
        t.cluster(["v"], files_per_partition=2)


def _minmax(spark, schema, paths: dict, cols):
    """{label: {col: [F.min, F.max]}} over the rows of each label's
    parquet path, as one job: a union of the per-path scans and one
    global aggregate per (label, column) — over no rows, [None, None]."""
    labels = list(paths)
    df = None
    for i, label in enumerate(labels):
        side = spark.read.schema(schema).parquet(paths[label]).select(
            F.lit(i).alias("_i"), *cols
        )
        df = side if df is None else df.unionByName(side)
    aggs = []
    for i in range(len(labels)):
        for c in cols:
            hit = F.when(F.col("_i") == i, F.col(c))
            aggs += [F.min(hit).alias(f"mn{i}_{c}"), F.max(hit).alias(f"mx{i}_{c}")]
    row = df.agg(*aggs).first()
    return {
        label: {c: [_enc_stat(row[f"mn{i}_{c}"]), _enc_stat(row[f"mx{i}_{c}"])] for c in cols}
        for i, label in enumerate(labels)
    }


def _same(a, b):
    # JSON form: NaN bounds compare equal to themselves
    return json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)


@pytest.mark.parametrize("key", list(KEYS))
@pytest.mark.parametrize("partitioned", [True, False], ids=["part", "unpart"])
@pytest.mark.parametrize("op", OPS)
def test_recorded_zone_maps_equal_brute_force(spark, tmp_path, op, partitioned, key):
    # a space in the table path: the scan fallback reads file names back
    # as percent-encoded URIs
    t = _table(spark, str(tmp_path / "zone maps"), key, partitioned)
    _commit(spark, t, op, key, partitioned)
    m = t._load()
    v = m["current"]
    assert v == (0 if op == "create" else 1)
    entry = m["versions"][str(v)]
    schema = t._schema_at(m, v)
    cols = ["k", "grp"] if partitioned else ["k"]
    parts = entry["partitions"]
    want = _minmax(spark, schema, {pv: os.path.join(t.path, rel) for pv, rel in parts.items()}, cols)
    if op == "herodb_overwrite" and key not in FOOTER_KEYS:
        # unprovable footers: stats equal brute force or are absent
        want = {pv: st for pv, st in want.items() if pv in entry["stats"]}
    assert _same(entry["stats"], want), (entry["stats"], want)
    if op == "delete_where" and partitioned:
        assert "2" not in entry["partitions"] and "2" not in entry["stats"]
    if op == "cluster":
        fstats = m["file_stats"]
        assert set(fstats) == set(entry["partitions"].values())
        fcols = ["k", "v", "grp"] if partitioned else ["k", "v"]
        files = {
            (rel, fn): os.path.join(t.path, rel, fn)
            for rel in fstats
            for fn in os.listdir(os.path.join(t.path, rel))
            if fn.endswith(".parquet")
        }
        got = {(rel, fn): st for rel, per_file in fstats.items() for fn, st in per_file.items()}
        want = _minmax(spark, schema, files, fcols)
        # a row-less file has no entry; every other file's bounds are exact
        assert set(got) == {f for f, st in want.items() if st["v"][0] is not None}
        for f, st in got.items():
            assert _same(st, want[f]), (f, st, want[f])


@pytest.mark.parametrize("x0", [1.5, 0.0], ids=["footer", "scan"])
def test_null_key_values_fold_nothing(spark, tmp_path, x0):
    """NULL key values contribute no bound, so a partition whose key
    column is all NULL records [None, None], like F.min/F.max — from
    the footers and from the scan fallback (a 0.0 bound forces it)."""
    rows = [
        (10 * g + i, g, (f"s{g}{i}" if i % 2 else None) if g < 2 else None,
         None if i == 3 else x0 + i)
        for g in range(3)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id long, grp int, s string, x double")
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, ["id", "s", "x"], partition_col="grp"
    )
    m = t._load()
    entry = m["versions"]["0"]
    want = _minmax(
        spark, t._schema_at(m, 0),
        {pv: os.path.join(t.path, rel) for pv, rel in entry["partitions"].items()},
        ["id", "s", "x", "grp"],
    )
    assert entry["stats"] == want
    assert entry["stats"]["2"]["s"] == [None, None]


def test_rowless_unpartitioned_dir_records_null_bounds(spark, tmp_path):
    """A delete of every row leaves one row-less file in the
    unpartitioned directory: its zone map is [None, None] per column —
    what F.min/F.max return over no rows, and what the write-observed
    stats recorded before the footer path — so range reads skip it."""
    t = _table(spark, str(tmp_path / "t"), "long", partitioned=False)
    t.delete_where(F.lit(True))
    entry = t._load()["versions"]["1"]
    assert entry["stats"] == {"_all": {"k": [None, None]}}
    assert SnapshotTable._skippable(entry["stats"]["_all"], {"k": (0, 5)})
    assert t.read().count() == 0


def test_footer_reader_gates(spark, tmp_path):
    """`_footer_file_minmax` proves a file's bounds only when they equal
    what a scan computes. Sign-ambiguous 0.0, NaN-bearing doubles,
    strings at the truncation cap and int32 chunks read as dates are
    unprovable (None), so their commits take the scan fallback."""
    t = SnapshotTable(spark, str(tmp_path))
    d = str(tmp_path / "f")
    spark.createDataFrame(
        [(3, "b", 1.5, 0.0, float("nan"), "x" * SnapshotTable._FOOTER_STR_MAX, 1, dt.date(2024, 3, 5)),
         (9, "a", None, 3.5, 3.5, "y", 2, dt.date(2024, 3, 5))],
        "id long, s string, x double, zero double, nan double, long_s string, g int, d date",
    ).coalesce(1).write.parquet(d)
    f = os.path.join(d, next(n for n in os.listdir(d) if n.endswith(".parquet")))
    got, n = t._footer_file_minmax(
        f, {"id": "bigint", "s": "string", "x": "double", "d": "date"}
    )
    assert n == 2 and got == {
        "id": (3, 9), "s": ("a", "b"), "x": (1.5, 1.5), "d": ("2024-03-05", "2024-03-05"),
    }
    for want in (
        {"zero": "double"}, {"nan": "double"}, {"long_s": "string"}, {"g": "date"},
        {"id": "bigint", "nan": "double"},
    ):
        assert t._footer_file_minmax(f, want) is None, want


@pytest.mark.parametrize("op", ["delete_where", "update_where"])
@pytest.mark.parametrize("key", ["date", "timestamp"])
def test_unpartitioned_predicate_mutation_on_temporal_keys(spark, tmp_path, key, op):
    """Unpartitioned update_where/delete_where record the matched rows'
    key hull in the manifest; on date/timestamp keys the hull must be
    encoded like every other stat, or the manifest cannot be written
    and the mutation never commits."""
    typ, f = KEYS[key]
    t = _table(spark, str(tmp_path / "t"), key, partitioned=False, n=5)
    if op == "delete_where":
        v = t.delete_where(F.col("v") == 3)
        want = sorted((f(i), i) for i in range(5) if i != 3)
    else:
        v = t.update_where(F.col("v") == 2, {"v": F.lit(20).cast("long")})
        want = sorted((f(i), 20 if i == 2 else i) for i in range(5))
    hit = 3 if op == "delete_where" else 2
    assert v == 1
    entry = t._load()["versions"]["1"]
    assert entry["key_ranges"] == {"_all": {"k": [_enc_stat(f(hit))] * 2}}
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == want
