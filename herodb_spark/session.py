"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same logical plans
survive a 1000-executor / 100 TB deployment — AQE re-plans shuffles
at runtime (partition coalescing + skew-join splitting), broadcast
threshold catches the dimension tables, and the session timezone is
pinned to UTC so timestamp semantics are deployment-independent.
"""

from __future__ import annotations

import calendar
import contextlib
import datetime
import math
import os
import re
import threading
import time

from pyspark.sql import SparkSession


#: printable ASCII minus backslash (0x5c) — strings outside this set
#: fall back to the parallelize path rather than risk SQL-literal
#: escape semantics (escapedStringLiterals flips what backslash means)
_SAFE_CHARS = re.compile(r"^[\x20-\x5b\x5d-\x7e]*$")

#: column types the VALUES rendering provably reproduces byte-for-byte
#: against createDataFrame's converters (simpleString names)
_LIT_TYPES = {
    "boolean", "tinyint", "smallint", "int", "bigint",
    "float", "double", "string", "date", "timestamp",
}


def _sql_scalar(v):
    """SQL literal expression whose evaluated value is IDENTICAL to
    what createDataFrame's type converters produce for `v`, or None
    when no provably-identical rendering exists (caller falls back)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v) if -(2 ** 63) <= v < 2 ** 63 else None
    if isinstance(v, float):
        # repr round-trips; string→double cast is correctly rounded
        return f"CAST('{v!r}' AS DOUBLE)" if math.isfinite(v) else None
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'" if _SAFE_CHARS.match(v) else None
    if isinstance(v, datetime.datetime):  # before date: datetime is a date
        # exactly TimestampType.toInternal: naive = process-local wall
        # time, aware = UTC — rendered as epoch micros, tz-independent
        if v.tzinfo is None:
            secs = int(time.mktime(v.timetuple()))
        else:
            secs = calendar.timegm(v.utctimetuple())
        return f"timestamp_micros({secs * 1_000_000 + v.microsecond})"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return None


def _local_literal_sql(rows: list, schema) -> str | None:
    """SQL producing `rows` at `schema` as a pure LocalRelation, or
    None when any cell/type lacks a provably-identical rendering."""
    from pyspark.sql.types import StructType

    try:
        st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    except Exception:
        return None
    if not isinstance(st, StructType) or not st.fields:
        return None
    types = [f.dataType.simpleString() for f in st.fields]
    if any(t not in _LIT_TYPES for t in types):
        return None
    if any("`" in f.name for f in st.fields):
        return None
    lits = []
    for r in rows:
        if not isinstance(r, (tuple, list)) or len(r) != len(st.fields):
            return None
        cells = [_sql_scalar(v) for v in r]
        if any(c is None for c in cells):
            return None
        lits.append("(0, " + ", ".join(cells) + ")")
    # one all-NULL marker row, filtered back out below: VALUES columns
    # of non-null literals would otherwise analyze as non-nullable,
    # while createDataFrame always yields nullable fields — the marker
    # keeps the schema (incl. nullability) identical to the old path
    lits.append("(1" + ", NULL" * len(st.fields) + ")")
    cols = ", ".join(
        f"CAST(c{i} AS {t}) AS `{f.name}`"
        for i, (f, t) in enumerate(zip(st.fields, types))
    )
    names = ", ".join(["__m"] + [f"c{i}" for i in range(len(st.fields))])
    return (
        f"SELECT {cols} FROM VALUES {', '.join(lits)} AS t({names}) WHERE __m = 0"
    )


def literal_df(spark: SparkSession, rows: list, schema) -> "DataFrame":
    """DataFrame from driver-side literal rows, as a LocalRelation
    whenever the rows/types permit (SQL VALUES — zero tasks, zero
    Python-worker round-trips, and broadcast builds against it are
    driver-side, so a literal frame adds NO Spark job to any plan that
    evaluates it), else a single-slice parallelize.

    History: ``createDataFrame(list)`` parallelizes tiny literals
    across defaultParallelism pickled-row partitions, costing a
    32-task Python-worker wave in every job evaluating them (~5 s at
    local[32] on the 13-row class-hierarchy edge list); r13 cut that
    to ONE slice per frame; r14 removes the worker round-trip and the
    broadcast-build jobs entirely via LocalRelation. Seeds, edge-list
    metadata, and ground facts should all come through here."""
    sql = _local_literal_sql(rows, schema)
    if sql is not None:
        return spark.sql(sql)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


#: the settings `fixture_conf` pins for the duration of its body
_FIXTURE_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}
#: open `fixture_conf` scopes per session: [depth, caller's values]
_fixture_scopes: dict = {}
_fixture_lock = threading.Lock()


@contextlib.contextmanager
def fixture_conf(spark: SparkSession):
    """Conf scope for operators whose EAGER work (checkpoints, snapshot
    commits, streaming micro-batches) runs over fixture-sized frames:
    dozens of tiny actions whose cost is scheduler round-trips, not
    data. Three settings change, each for its own reason:

    - ``shuffle.partitions=8``: a stateful streaming operator opens one
      state store per shuffle partition per micro-batch, and every tiny
      exchange pays one task per partition — the session's per-core
      count buys no parallelism on 25-row frames;
    - ``adaptive.enabled=false``: AQE materializes each join's shuffle
      stages as separate Spark jobs, so a tiny mutation commit
      (anti-join + write) pays 3-4 jobs instead of 1 for plans whose
      static estimates already pick the right shape;
    - ``autoBroadcastJoinThreshold=-1``: sized LocalRelation literals
      flip tiny joins to BroadcastHashJoin, and each BroadcastExchange
      is its own driver job, costlier at this size than the one-job
      shuffle join it replaces.

    Results are plan-independent (hash-gated); only job counts move.
    The caller's values are restored on exit, also when the body
    raises. The scope sets and restores on the CALLER's session, not a
    ``spark.newSession()``: a frame built in another session keeps
    planning under that session's conf, so the lazily returned legs
    would stop re-planning at the caller's settings. Production-scale
    callers keep their session's AQE and broadcast planning.

    That conf is shared by every thread of the session, so scopes
    entered on concurrent threads (run_overlapped) are counted: the
    first entry saves the caller's values and sets the pins, the last
    exit restores them. A thread leaving its scope never un-pins
    another thread still inside one."""
    with _fixture_lock:
        scope = _fixture_scopes.setdefault(spark, [0, None])
        if scope[0] == 0:
            scope[1] = {k: spark.conf.get(k) for k in _FIXTURE_CONF}
            for k, v in _FIXTURE_CONF.items():
                spark.conf.set(k, v)
        scope[0] += 1
    try:
        yield
    finally:
        with _fixture_lock:
            scope[0] -= 1
            if scope[0] == 0:
                del _fixture_scopes[spark]
                for k, v in scope[1].items():
                    spark.conf.set(k, v)


def run_overlapped(*fns) -> None:
    """Run independent callables (each driving its own Spark jobs) on
    driver threads so the jobs overlap instead of serializing (guide
    §2.6 — the scheduler happily runs several jobs at once; actions
    are only sequential because driver code calls them sequentially).
    Used for independent single-table statements of one transaction
    (the r13 'intra-transaction statement parallelism' deferral,
    landed in r14 now that Transaction._apply serializes its shared
    state behind a lock and runs each mutation's job outside it).
    InheritableThread propagates the JVM thread-locals (job group /
    description), so profiling and cancellation still see these jobs.
    The first exception is re-raised on the caller thread after all
    callables finish."""
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def run(fn):
        try:
            fn()
        except BaseException as e:  # re-raised on the caller thread
            errs.append(e)

    threads = [InheritableThread(target=run, args=(fn,)) for fn in fns]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]


def ckpt_count(df: "DataFrame") -> tuple["DataFrame", int]:
    """localCheckpoint(eager=True) with the row count OBSERVED on the
    materialization job itself (r13 opt): convergence probes that only
    need `count(new)` stop paying a separate count/isEmpty job per
    iteration — the checkpoint job already touches every row, and
    CollectMetrics fires on it (verified: 1 job total, metrics
    available immediately after). Returns (checkpointed_df, n_rows).
    The returned frame's lineage is truncated at the checkpoint, so
    downstream actions never re-fire the observation.

    ASSUMES spark.speculation=false (the default, and pinned by this
    module's session): Observation metrics are accumulator-based, so a
    speculative re-run of a task could double-count. Zero/nonzero
    probes can't be corrupted (0 cannot inflate), but callers comparing
    counts for EQUALITY (fixpoint, connected_components' Σ probe) must
    fall back to an exact exceptAll/join probe if speculation is ever
    enabled. Shared by graph.algorithms and graph.extra_algos (r13
    ADVICE: one public definition, no cross-layer private import)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"])


def get_spark(app_name: str = "herodb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``local[$SPARK_GRAFT_CPUS]`` in this environment; on a real
    cluster the master/resource configs come from spark-submit and
    everything here still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # Local mode: match cores so one wave of tasks covers the
        # shuffle. On a cluster this is overridden by AQE coalescing
        # anyway (advisoryPartitionSizeInBytes governs).
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
