"""The benchmark's workloads and the closed loop that drives them.

One client runs a workload's ops: the next op starts when the
previous one has finished. `drive` runs

1. the untimed warm-up: for the read-only workloads one check pass
   (every op once, in registry order, its output compared with an
   independent answer); for `txn_orders` one round;
2. timed passes for `seconds`: another pass starts only while the
   median pass so far still fits in the remaining time (at least the
   workload's `min_passes`, and three in a traced run). The read-only
   workloads run their ops in an order drawn from the seed;
   `txn_orders` draws its mutation keys from it.

A JVM GC runs after every pass, outside the timed region, so one pass's
dead checkpoint blocks do not land on the next.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

from bench import materialize


@dataclass
class Op:
    """`call` runs the operator and returns the DataFrame still to be
    executed, or None when the call did all the work."""

    name: str
    call: Callable


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_end: float = 0.0  # perf_counter at the end of warm-up
    check_s: dict = field(default_factory=dict)  # op -> seconds of its checked first call
    walls: list = field(default_factory=list)  # timed passes
    lat: dict = field(default_factory=dict)  # op -> latencies (s)
    traced_walls: list = field(default_factory=list)
    traced_lat: dict = field(default_factory=dict)  # op -> latencies (s) in traced passes
    traced_passes: list = field(default_factory=list)  # [op records] per traced pass

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def run_pass(spark, ops: list[Op], out: Outcome, tracer=None):
    """One pass: (wall seconds, {op: seconds}, trace records)."""
    lat: dict[str, float] = {}
    records = []
    t_pass = time.perf_counter()
    for op in ops:
        out.attempted += 1
        rec = tracer.begin() if tracer is not None else None
        try:
            t0 = time.perf_counter()
            df = op.call()
            t1 = time.perf_counter()
            if rec is not None:
                tracer.after_call(rec, df)
            if df is not None:
                materialize(df)  # bench.py's noop write: the whole plan, rows dropped
            lat[op.name] = time.perf_counter() - t0
        except Exception as e:  # one failing op must not end the run
            out.fail(f"{op.name}: {type(e).__name__}: {e}")
            continue
        finally:
            if rec is not None:
                tracer.end(rec)
        if rec is not None:
            rec["op"] = op.name
            rec["operators.call_s"] = t1 - t0
            records.append(rec)
    wall = time.perf_counter() - t_pass
    spark._jvm.System.gc()
    return wall, lat, records


def drive(spark, wl, seconds: float, tracer=None) -> Outcome:
    """Warm up, then run timed passes for `seconds`. With a tracer,
    timed passes alternate untraced and traced, so the traced run
    measures its own tracing overhead; end-to-end figures come from
    the untraced passes only."""
    out = Outcome()
    wl.warm_up(out)
    out.setup_end = time.perf_counter()
    t_start = time.perf_counter()
    # traced runs go untraced, traced, untraced, ...: the tracing overhead
    # is the traced median minus that of the untraced passes after the first
    min_passes = max(wl.min_passes, 1 if tracer is None else 3)
    j = 0
    while j < min_passes or (
        time.perf_counter() - t_start + statistics.median(out.walls + out.traced_walls) <= seconds
    ):
        traced = tracer is not None and j % 2 == 1
        if tracer is not None:
            tracer.enabled = traced
        wall, lat, records = run_pass(spark, wl.pass_ops(j), out, tracer if traced else None)
        if tracer is not None:
            tracer.enabled = False
        if traced:
            tracer.collect_exec(records)
            out.traced_walls.append(wall)
            out.traced_passes.append(records)
        else:
            out.walls.append(wall)
        for name, v in lat.items():
            (out.traced_lat if traced else out.lat).setdefault(name, []).append(v)
        j += 1
    wl.final_checks(out)
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -- read-only workloads -------------------------------------------------------

def _round6(x: float) -> float:
    """DuckDB's ROUND(double, 6): half away from zero on x * 1e6."""
    y = x * 1e6
    f = math.floor(y)
    return (f + 1 if y - f >= 0.5 else f) / 1e6


def ngram_jaccard_answer(con):
    """The pair set `NGRAM_JACCARD_SQL` defines (distinct word 3-gram
    sets, Jaccard rounded to 6 places, >= 0.5), found through an
    inverted index instead of the oracle's all-pairs join, which takes
    minutes at 5000 documents."""
    import pandas as pd

    sh: dict[int, set] = {}
    for doc_id, text in con.sql("SELECT doc_id, text FROM documents").fetchall():
        w = text.split()
        if len(w) >= 3:
            sh[doc_id] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    postings: dict[str, list] = {}
    for d, grams in sh.items():
        for g in grams:
            postings.setdefault(g, []).append(d)
    inter: dict[tuple, int] = {}
    for ids in postings.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    rows = []
    for (a, b), k in inter.items():
        j = _round6(k / (len(sh[a]) + len(sh[b]) - k))
        if j >= 0.5:
            rows.append((a, b, j))
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"]).astype(
        {"doc_a": "int64", "doc_b": "int64", "jaccard": "float64"})


#: ops whose DuckDB oracle query is replaced by an equivalent computation
ORACLE_OVERRIDES = {"dedup_minhash_lsh": ngram_jaccard_answer}

STREAM_QUERY = "perfbench_stream_tumbling_agg"


def stream_tumbling_agg(spark, sf_dir: str):
    """The engine's 1-hour tumbling aggregate (`streaming.ops.tumbling_agg`)
    run as a Structured Streaming query over its events file source
    (`streaming.ops.stream_events`): availableNow trigger, complete
    output mode, memory sink. The call runs the micro-batches; the
    returned DataFrame reads the sink's rows. Its answer is the
    engine's `STREAM_TUMBLING_AGG_SQL` oracle.

    The benchmark builds this op because the one registry op that runs
    micro-batches, `stream_window_aggs`, takes about 21 s per warm call
    (28 s cold) at 4 cores, which no run of the budget can hold."""
    from herodb_spark.streaming import ops as SO

    q = (SO.tumbling_agg(SO.stream_events(spark, sf_dir)).writeStream.format("memory")
         .queryName(STREAM_QUERY).outputMode("complete").trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.table(STREAM_QUERY)


class ReadOnly:
    """Registry operators (and `stream_tumbling_agg`) at one scale
    factor, each checked once against its DuckDB oracle (`oracle_sql()`
    + `tests/harness.compare`)."""

    min_passes = 1

    def __init__(self, spark, sf_dir: str, names: list[str], seed: int):
        import __spark_entry__ as E
        from herodb_spark.operators.streamops import STREAM_TUMBLING_AGG_SQL

        fns = dict(E.QUERIES, stream_tumbling_agg=stream_tumbling_agg)
        oracles = dict(E.oracle_sql(), stream_tumbling_agg=STREAM_TUMBLING_AGG_SQL)
        self.spark = spark
        self.sf_dir = sf_dir
        self.names = list(names)
        self.fns = {n: fns[n] for n in names}
        self.oracles = {n: oracles[n] for n in names}
        self.rng = random.Random(seed)

    def _op(self, name: str) -> Op:
        fn = self.fns[name]
        return Op(name, lambda: fn(self.spark, self.sf_dir))

    def warm_up(self, out: Outcome) -> None:
        from tests.harness import compare, duckdb_con

        con = duckdb_con(self.sf_dir)
        for name in self.names:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                sql = self.oracles[name]
                if name in ORACLE_OVERRIDES:
                    con.register(f"answer_{name}", ORACLE_OVERRIDES[name](con))
                    sql = f"SELECT * FROM answer_{name}"
                res = compare(self._op(name).call(), sql, con)
                err = None if res["ok"] else "; ".join(res["detail"]) or "mismatch"
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            out.check_s[name] = time.perf_counter() - t0
            if err:
                out.fail(f"{name} oracle check: {err}")
        con.close()
        self.spark._jvm.System.gc()

    def pass_ops(self, j: int) -> list[Op]:
        order = list(self.names)
        self.rng.shuffle(order)
        return [self._op(n) for n in order]

    def final_checks(self, out: Outcome) -> None:
        pass

    def extra_metrics(self, out: Outcome) -> dict:
        return {}


# -- txn_orders ----------------------------------------------------------------

class TxnOrders:
    """Writes beside reads on a SnapshotDatabase seeded with `orders`.

    Round r commits one transaction: `merge_upsert` of the rows whose
    key falls in a seeded 1/12 slice, with o_totalprice raised by a
    seeded whole number, and `delete_where` of a seeded ~1 % key slice.
    It then reads the current snapshot and, by time travel, the
    previous round's version, each through a group-by aggregate.
    Every `MAINT_EVERY`-th round also runs `compact()` + `vacuum()`.
    The run ends by comparing the final table and the previous
    version with a pandas replay of the same rounds."""

    SLICES = 12
    DEL_MOD = 101
    #: rounds are short, and the commit/read medians need samples
    min_passes = 4
    MAINT_EVERY = 3
    KEEP_VERSIONS = 3
    WARM_ROUNDS = 1

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int, tracer=None):
        import pyarrow.parquet as pq

        from herodb_spark.catalog import load_table
        from herodb_spark.sources.database import SnapshotDatabase

        self.spark = spark
        self.run_dir = run_dir
        self.db_dir = os.path.join(run_dir, "db")
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.orig = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
        keys = self.orig["o_orderkey"]
        self.slice_rows = (keys % self.SLICES).value_counts().to_dict()
        self.del_rows = (keys % self.DEL_MOD).value_counts().to_dict()
        self.row_bytes = os.path.getsize(os.path.join(sf_dir, "orders.parquet")) / len(keys)
        self.base = load_table(spark, sf_dir, "orders")
        self.db = SnapshotDatabase.create(spark, self.db_dir)
        self.db.create_table("orders", self.base, key_cols=["o_orderkey"])
        self.rounds: list[tuple[int, int, int]] = []
        self.versions = [self._version()]

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def note(self, key: str, value: float) -> None:
        self.tracer.note(key, value)

    def _version(self) -> int:
        return max(h["version"] for h in self.db.history())

    def warm_up(self, out: Outcome) -> None:
        for j in range(self.WARM_ROUNDS):
            run_pass(self.spark, self._round_ops(j), out)

    def pass_ops(self, j: int) -> list[Op]:
        return self._round_ops(self.WARM_ROUNDS + j)

    def _round_ops(self, r: int) -> list[Op]:
        ops = [Op("commit", self._commit), Op("read", self._read),
               Op("time_travel_read", self._tt_read)]
        if r % self.MAINT_EVERY == self.MAINT_EVERY - 1:
            ops.append(Op("maintenance", self._maintain))
        return ops

    def _commit(self):
        from pyspark.sql import functions as F

        s = self.rng.randrange(self.SLICES)
        delta = self.rng.randrange(1, 10)
        d = self.rng.randrange(self.DEL_MOD)
        key = F.col("o_orderkey")
        updates = self.base.filter(key % self.SLICES == s).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(float(delta)))
        before = _du(self.db_dir) if self.tracing else 0
        t0 = time.perf_counter()
        with self.db.transaction() as t:
            t.merge_upsert("orders", updates)
            t.delete_where("orders", key % self.DEL_MOD == d)
            t1 = time.perf_counter()
        t2 = time.perf_counter()
        self.rounds.append((s, delta, d))
        self.versions.append(self._version())
        if self.tracing:
            written = _du(self.db_dir) - before
            changed_bytes = (self.slice_rows[s] + self.del_rows.get(d, 0)) * self.row_bytes
            self.note("database.stage_s", t1 - t0)
            self.note("database.publish_ms", (t2 - t1) * 1000)
            self.note("database.bytes_written_mb", written / (1024 * 1024))
            self.note("database.write_amp", written / changed_bytes)
        return None

    @staticmethod
    def _agg(df):
        from pyspark.sql import functions as F

        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))

    def _read(self):
        t0 = time.perf_counter()
        df = self.db.read("orders")
        if self.tracing:
            self.note("database.read_resolve_ms", (time.perf_counter() - t0) * 1000)
            self.note("database.live_files", len(df.inputFiles()))
        return self._agg(df)

    def _tt_read(self):
        return self._agg(self.db.read("orders", db_version=self.versions[-2]))

    def _maintain(self):
        t0 = time.perf_counter()
        self.db.compact()
        self.db.vacuum(keep_last=self.KEEP_VERSIONS)
        if self.tracing:
            self.note("database.maintenance_s", time.perf_counter() - t0)
        return None

    # -- checks ---------------------------------------------------------------
    def replay(self, n_rounds: int):
        """The table after the first `n_rounds` commits, recomputed in
        pandas from the original orders."""
        import pandas as pd

        keys = self.orig["o_orderkey"]
        cur = self.orig
        for s, delta, d in self.rounds[:n_rounds]:
            upd = self.orig[keys % self.SLICES == s].copy()
            upd["o_totalprice"] = upd["o_totalprice"] + float(delta)
            cur = pd.concat([cur[~cur["o_orderkey"].isin(upd["o_orderkey"])], upd])
            cur = cur[cur["o_orderkey"] % self.DEL_MOD != d]
        return cur

    def check_version(self, n_rounds: int) -> str | None:
        version = self.versions[n_rounds]
        got = _canon(self.db.read("orders", db_version=version).toPandas())
        want = _canon(self.replay(n_rounds))
        if got.shape != want.shape:
            return f"db version {version}: {got.shape[0]} rows, the replay has {want.shape[0]}"
        if list(got.columns) != list(want.columns):
            return f"db version {version}: columns {list(got.columns)} != {list(want.columns)}"
        if not got.equals(want):
            diff = (got != want).any(axis=1)
            return f"db version {version}: {int(diff.sum())} rows differ from the replay"
        return None

    def final_checks(self, out: Outcome) -> None:
        n = len(self.rounds)
        for k in (n, n - 1):  # current table, and the previous version by time travel
            out.attempted += 1
            try:
                err = self.check_version(k)
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            if err:
                out.fail(f"replay check: {err}")

    def extra_metrics(self, out: Outcome) -> dict:
        """Commit and snapshot-read latency over the untraced timed
        rounds (ms), and space amplification at the end of the run."""
        fresh = os.path.join(self.run_dir, "fresh_orders")
        self.db.read("orders").write.mode("overwrite").parquet(fresh)
        commit_ms = [v * 1000 for v in out.lat["commit"]]
        read_ms = [v * 1000 for v in out.lat["read"]]
        return {
            "commit_p50_ms": statistics.median(commit_ms),
            "read_p50_ms": statistics.median(read_ms),
            "samples": len(commit_ms),
            "space_amp": _du(self.db_dir) / _du(fresh),
        }


def _canon(df):
    out = df.reset_index(drop=True)
    for col in out.columns:
        if str(out[col].dtype).startswith("datetime64"):
            out[col] = out[col].astype("datetime64[us]")
    return out.sort_values("o_orderkey").reset_index(drop=True)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # removed by a concurrent vacuum sweep
                pass
    return total
