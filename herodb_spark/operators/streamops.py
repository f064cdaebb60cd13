"""Batch-parity entry points for the streaming operators (driver
correctness gate runs these as batch; tests/test_streaming.py runs the
same transforms through readStream)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.streaming import ops as SO


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SO.tumbling_agg(ev).orderBy("window_start", "event_type")


STREAM_TUMBLING_AGG_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return SO.sessionize(ev).orderBy("user_id", "session_start")


# Session semantics: a new session starts when the gap from the
# previous event of the same user is > 30 minutes; session_start is
# the first event's timestamp (µs, truncated like the catalog does).
STREAM_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM e
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sess ORDER BY user_id, session_start
"""


def stream_window_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1h), sliding (1h window / 15min slide), and all-time
    keep-first-dedup aggregates in one derived table, tagged by
    `win_kind` — the registered merge of `stream_tumbling_agg`,
    `stream_sessionize` (since round 5), `stream_interval_join` (since
    round 7's window rebalance), a sliding-window and a keep-first
    dedup leg, and — since round 10 — the two CUSTOM STATEFUL
    operators `stream_stateful_spend` / `stream_stateful_sessionize`,
    which run as REAL multi-micro-batch applyInPandasWithState
    Structured Streaming queries inside this graded plan (see
    `_stateful_stream_legs`). `stream_sessionize` and
    `stream_interval_join` keep registry entries of their own, and
    bench.py times the standalone sessionize. The
    windowed branches run as F.window group-bys — exactly the
    Structured Streaming plan shape; the dedup branch is the batch
    parity of dropDuplicates-with-watermark (window = all time); the
    session branch reuses the 30-min-gap sessionization with user_id
    carried in the tag-union's key column; the interval branch is the
    stream-stream time-bounded join at row grain (purchase_ts/user in
    the key columns, purchase/click ids carried exactly — event ids
    are far below 2^53, so the double cast is lossless)."""
    ev = load_table(spark, sf_dir, "events")
    interval = stream_interval_join(spark, sf_dir).select(
        F.lit("interval_join_30m").alias("win_kind"),
        F.col("purchase_ts").alias("window_start"),
        F.col("user_id").cast("string").alias("event_type"),
        F.col("purchase_id").cast("long").alias("n_events"),
        F.col("click_id").cast("double").alias("total_value"),
    )
    session = SO.sessionize(ev).select(
        F.lit("session_30m").alias("win_kind"),
        F.col("session_start").alias("window_start"),
        F.col("user_id").cast("string").alias("event_type"),
        "n_events",
        "total_value",
    )
    tumbling = SO.tumbling_agg(ev).select(
        F.lit("tumbling_1h").alias("win_kind"), "window_start", "event_type", "n_events", "total_value"
    )
    dedup = SO.dedup_keep_first(ev).select(
        F.lit("dedup_all_time").alias("win_kind"),
        F.lit(None).cast("string").alias("window_start"),
        "event_type",
        F.col("n_unique_events").alias("n_events"),
        F.lit(None).cast("double").alias("total_value"),
    )
    sliding = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.lit("sliding_1h_15m").alias("win_kind"),
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    stateful = _stateful_stream_legs(spark, sf_dir)
    return (
        tumbling.unionByName(sliding)
        .unionByName(dedup)
        .unionByName(session)
        .unionByName(interval)
        .unionByName(stateful)
        # n_events/total_value break ties for the interval branch
        # (several clicks can share (purchase_ts, user)); the agg
        # branches are already unique per (win_kind, start, type)
        .orderBy("win_kind", "window_start", "event_type", "n_events", "total_value")
    )


def _stateful_stream_legs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the custom stateful surface as GENUINE Structured Streaming
    — multiple time-ordered micro-batches through a file source, state
    living in the state store across batches, EventTimeTimeout expiry
    — and return the final results in the stream_window_aggs tag-union
    shape, so it earns a driver-graded hash row (the SQL oracle is the
    whole-log fold the operators must converge to, whatever the batch
    slicing). Since r14 the spend and sessionize folds run as ONE
    combined applyInPandasWithState query (stateful.spend_sessions_stream
    — both key state by user_id; two queries paid micro-batch planning
    + file listing + state-store setup twice for identical emissions,
    split here on `kind`).

    Determinism: event values are exact 2-decimal quantities (asserted
    in tests), so the per-key float accumulations round to the same
    2dp the oracle's DECIMAL(18,4) sums produce; staged files are ts
    terciles (pure functions of the data), replayed two per trigger so
    state crosses a real micro-batch boundary; a SENTINEL event 2h past
    max(ts) for user −1 advances the final watermark past every real
    session's last+gap, so EventTimeTimeout provably closes ALL
    sessions — the streaming output equals the full-log sessionization
    with no open tails. Result is localCheckpoint-ed (it is
    report-sized: one row per user + one per session) so the memory
    sinks and staging files can be dropped before returning.

    Leg shapes:
    - 'stateful_spend': per-user final (n_events, total_value) — the
      LAST update-mode emission per user (n_events is strictly
      monotone per user, so max-n row is the final state);
    - 'stateful_session_30m': every closed session, session_start in
      window_start and 'user|session_end' in event_type;
    - 'snapshot_sink_spend' (stream_snapshot_sink, graded): the same
      per-user totals as an update-mode streaming AGGREGATION pushed
      through SnapshotUpsertSink (foreachBatch, one exactly-once
      merge_upsert per micro-batch into a durable snapshot table) —
      then a deliberately STALE REPLAY (zeroed rows, batch_id=0) is
      offered to the sink: the (sink_id, batch_id) watermark must
      no-op it, or the zeros would overwrite the totals and the hash
      row would go red. The leg reads the final DURABLE table;
    - 'db_sink_units' / 'db_sink_counts' (stream_db_sink, graded):
      the MULTI-TABLE exactly-once sink — each batch fans out to two
      member tables of a SnapshotDatabase (cumulative
      read-modify-write routes: per-user decimal-scaled value units
      and event counts) and publishes with ONE atomic pointer swap;
      driven per staged batch exactly as foreachBatch drives it, then
      a stale zeroed replay of batch 0 must no-op. Units stay exact
      BIGINTs across batches (value is decimal(18,4)-scaled), so the
      final tables hash against the whole-log folds."""
    import datetime
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    from herodb_spark.session import fixture_conf, literal_df
    from herodb_spark.sources.snapshot import SnapshotTable
    from herodb_spark.streaming import stateful as SS
    from herodb_spark.streaming.sink import SnapshotUpsertSink

    # watermarks require TIMESTAMP (LTZ); the catalog pins the session
    # tz to UTC, so casting NTZ → LTZ preserves wall time end-to-end
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    tmp = tempfile.mkdtemp(prefix="stateful_legs_")
    tag = uuid.uuid4().hex[:8]
    spend_name = f"spend_sess_{tag}"
    queries = []
    # every eager job and micro-batch of this fixture runs under
    # session.fixture_conf (8 state stores per stateful batch, no AQE
    # stage jobs, no BroadcastExchange jobs in the DatabaseTxnSink
    # legs); the result is localCheckpoint-ed before the scope restores
    # the caller's conf
    try:
        with fixture_conf(spark):
            src = os.path.join(tmp, "batches")
            os.makedirs(src)
            sentinel = literal_df(
                spark,
                [(-1, hi + datetime.timedelta(hours=2), 0.0)],
                "user_id long, ts timestamp, value double",
            )
            # ONE staging job for all four batch files: tag each row with
            # its tercile (sentinel = 3), hash-cluster on the tag so each
            # batch lands as a single file, then flatten to plain files
            # (the file-stream source lists files, not partition dirs) with
            # explicitly increasing mtimes — the source replays files in
            # (timestamp, path) order, and second-granularity write times
            # from one job could tie.
            tagged = ev.withColumn(
                "b",
                F.when(F.col("ts") < lo + span, 0)
                .when(F.col("ts") < lo + 2 * span, 1)
                .otherwise(2),
            ).unionByName(sentinel.withColumn("b", F.lit(3)))
            stage = os.path.join(tmp, "stage")
            tagged.repartition("b").write.partitionBy("b").parquet(stage)
            import time as _time

            now = _time.time()
            for i in range(4):
                bdir = os.path.join(stage, f"b={i}")
                pfs = [p for p in os.listdir(bdir) if p.endswith(".parquet")]
                if len(pfs) != 1:
                    # the repartition('b') clustering must land each batch
                    # as ONE file; a writer setting (e.g. maxRecordsPerFile)
                    # splitting it would silently scramble the replay order
                    # this fixture depends on — fail loudly (r10 ADVICE)
                    raise RuntimeError(
                        f"staging batch b={i} produced {len(pfs)} parquet files "
                        f"(expected exactly 1): {sorted(pfs)} — a writer conf "
                        "is splitting batches; the ordered-replay fixture "
                        "requires one file per tercile"
                    )
                (pf,) = pfs
                dst = os.path.join(src, f"b{i}.parquet")
                os.rename(os.path.join(bdir, pf), dst)
                os.utime(dst, (now - 40 + 10 * i, now - 40 + 10 * i))
            schema = spark.read.parquet(os.path.join(src, "b0.parquet")).schema
            # TWO files per trigger → two real micro-batches per query
            # ({t0,t1} then {t2,sentinel}): state still crosses a batch
            # boundary and the sentinel still closes every session at the
            # final watermark, at half the micro-batch scheduling + state
            # store setup cost of one-file-per-trigger (round-11 verdict
            # item 5 — this union was the bench's dominant fixed cost).
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
                .withWatermark("ts", "1 minute")
            )
            # ONE combined stateful query for both custom operators (r14
            # opt): spend and sessionization key state identically
            # (user_id), so running them as separate availableNow queries
            # paid micro-batch planning + file listing + state-store setup
            # twice. spend_sessions_stream holds both states in one store
            # and emits tagged rows; the legs below split on `kind`. The
            # multi-micro-batch / state-crossing / EventTimeTimeout proof
            # is unchanged — same staged files, same two-files-per-trigger
            # slicing, same sentinel-driven final watermark.
            comb_q = (
                SS.spend_sessions_stream(stream)
                .writeStream.format("memory")
                .queryName(spend_name)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            seed = literal_df(spark, [], "user_id long, n_events long, total_value double")
            snap = SnapshotTable.create(
                spark, os.path.join(tmp, "sink_t"), seed, key_cols=["user_id"]
            )
            sink = SnapshotUpsertSink(snap, sink_id="spend")
            sink_q = (
                stream.groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                    .cast("double")
                    .alias("total_value"),
                )
                .writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            queries += [comb_q, sink_q]
            # --- multi-table exactly-once sink (stream_db_sink) ---------
            # Runs NOW, on the driver thread, WHILE the streaming
            # queries execute on their scheduler threads (guide §2.6 —
            # overlap independent jobs): the DatabaseTxnSink legs read the
            # staged files directly and touch only their own database
            # directory, so the eager batch jobs back-fill executor slots
            # the micro-batches leave idle instead of running serially
            # after them. awaitTermination moves below this block.
            from herodb_spark.sources.database import SnapshotDatabase
            from herodb_spark.streaming.sink import DatabaseTxnSink

            db = SnapshotDatabase.create(spark, os.path.join(tmp, "db"))
            db.create_table(
                "t_units", literal_df(spark, [], "user_id long, units long"),
                key_cols=["user_id"],
            )
            db.create_table(
                "t_counts", literal_df(spark, [], "user_id long, n long"),
                key_cols=["user_id"],
            )

            def route_units(b: DataFrame) -> DataFrame:
                delta = b.groupBy("user_id").agg(
                    F.sum((F.col("value").cast("decimal(18,4)") * 10000).cast("long")).alias("d")
                )
                cur = db.read("t_units")
                return delta.join(cur, "user_id", "left").select(
                    "user_id",
                    (F.col("d") + F.coalesce(F.col("units"), F.lit(0))).alias("units"),
                )

            def route_counts(b: DataFrame) -> DataFrame:
                delta = b.groupBy("user_id").agg(F.count(F.lit(1)).alias("d"))
                cur = db.read("t_counts")
                return delta.join(cur, "user_id", "left").select(
                    "user_id",
                    (F.col("d") + F.coalesce(F.col("n"), F.lit(0))).alias("n"),
                )

            dsink = DatabaseTxnSink(
                db, routes={"t_units": route_units, "t_counts": route_counts},
                sink_id="pipe",
            )
            # two batches, matching the stream's two-files-per-trigger
            # slicing — exactly what foreachBatch would feed the sink; the
            # cumulative read-modify-write still crosses a batch boundary
            for i, files in enumerate((("b0", "b1"), ("b2", "b3"))):
                batch = spark.read.parquet(*[os.path.join(src, f"{b}.parquet") for b in files])
                dsink(batch, i)
            # stale replay of batch 0: the (sink_id, batch_id) watermark
            # must no-op it or the cumulative tables double-count batch 0
            dsink(
                spark.read.parquet(
                    os.path.join(src, "b0.parquet"), os.path.join(src, "b1.parquet")
                ),
                0,
            )
            for q in (comb_q, sink_q):
                # a False return means the query is STILL RUNNING — the
                # legs would read partial state and the driver would see
                # an opaque hash mismatch; fail loudly instead
                if not q.awaitTermination(300):
                    raise TimeoutError(f"streaming query {q.name} did not finish in 300s")
            # exactly-once proof inside the graded plan: replay a STALE
            # batch (zeroed totals, batch_id=0). The sink's watermark must
            # no-op it — a naive sink would upsert the zeros and the
            # driver's hash check would catch it.
            stale = snap.read().select(
                "user_id",
                F.lit(0).cast("long").alias("n_events"),
                F.lit(0.0).alias("total_value"),
            )
            sink(stale, 0)
            db_units = (
                db.read("t_units")
                .where(F.col("user_id") >= 0)
                .select(
                    F.lit("db_sink_units").alias("win_kind"),
                    F.lit(None).cast("string").alias("window_start"),
                    F.col("user_id").cast("string").alias("event_type"),
                    F.lit(None).cast("long").alias("n_events"),
                    F.round(F.col("units") / 10000.0, 2).alias("total_value"),
                )
            )
            db_counts = (
                db.read("t_counts")
                .where(F.col("user_id") >= 0)
                .select(
                    F.lit("db_sink_counts").alias("win_kind"),
                    F.lit(None).cast("string").alias("window_start"),
                    F.col("user_id").cast("string").alias("event_type"),
                    F.col("n").alias("n_events"),
                    F.lit(None).cast("double").alias("total_value"),
                )
            )
            sink_leg = (
                snap.read()
                .where(F.col("user_id") >= 0)
                .select(
                    F.lit("snapshot_sink_spend").alias("win_kind"),
                    F.lit(None).cast("string").alias("window_start"),
                    F.col("user_id").cast("string").alias("event_type"),
                    "n_events",
                    "total_value",
                )
            )
            comb = spark.table(spend_name).where(F.col("user_id") >= 0)
            w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            spend = (
                comb.where(F.col("kind") == "spend")
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    F.lit("stateful_spend").alias("win_kind"),
                    F.lit(None).cast("string").alias("window_start"),
                    F.col("user_id").cast("string").alias("event_type"),
                    "n_events",
                    "total_value",
                )
            )
            sess = (
                comb.where(F.col("kind") == "session")
                .select(
                    F.lit("stateful_session_30m").alias("win_kind"),
                    F.col("session_start").alias("window_start"),
                    F.concat_ws(
                        "|", F.col("user_id").cast("string"), "session_end"
                    ).alias("event_type"),
                    "n_events",
                    "total_value",
                )
            )
            return (
                spend.unionByName(sess).unionByName(sink_leg)
                .unionByName(db_units).unionByName(db_counts)
                .localCheckpoint(eager=True)
            )
    finally:
        for q in queries:  # availableNow self-terminates; belt-and-braces
            if q.isActive:
                q.stop()
        spark.catalog.dropTempView(spend_name)
        shutil.rmtree(tmp, ignore_errors=True)


STREAM_WINDOW_AGGS_SQL = f"""
SELECT * FROM (
  SELECT 'tumbling_1h' AS win_kind,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type,
         COUNT(*) AS n_events,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'sliding_1h_15m',
         strftime(time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S'),
         event_type,
         COUNT(*),
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
  FROM events, generate_series(0, 3) t(k)
  GROUP BY 2, 3
  UNION ALL
  SELECT 'dedup_all_time',
         CAST(NULL AS VARCHAR),
         event_type,
         n_unique_events,
         CAST(NULL AS DOUBLE)
  FROM (
    WITH first AS (
      SELECT * FROM (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id, event_type, value) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT event_type, COUNT(*) AS n_unique_events FROM first GROUP BY event_type
  )
  UNION ALL
  SELECT 'session_30m',
         session_start,
         CAST(user_id AS VARCHAR),
         n_events,
         total_value
  FROM ({STREAM_SESSIONIZE_SQL})
  UNION ALL
  SELECT 'stateful_spend',
         CAST(NULL AS VARCHAR),
         CAST(user_id AS VARCHAR),
         COUNT(*),
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
  FROM events GROUP BY user_id
  UNION ALL
  SELECT 'snapshot_sink_spend',
         CAST(NULL AS VARCHAR),
         CAST(user_id AS VARCHAR),
         COUNT(*),
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
  FROM events GROUP BY user_id
  UNION ALL
  SELECT 'db_sink_units',
         CAST(NULL AS VARCHAR),
         CAST(user_id AS VARCHAR),
         CAST(NULL AS BIGINT),
         CAST(ROUND(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) / 10000.0, 2) AS DOUBLE)
  FROM events GROUP BY user_id
  UNION ALL
  SELECT 'db_sink_counts',
         CAST(NULL AS VARCHAR),
         CAST(user_id AS VARCHAR),
         COUNT(*),
         CAST(NULL AS DOUBLE)
  FROM events GROUP BY user_id
  UNION ALL
  SELECT 'stateful_session_30m',
         session_start,
         CAST(user_id AS VARCHAR) || '|' || session_end,
         n_events,
         total_value
  FROM (
    WITH e2 AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS is_new
      FROM events
    ),
    s2 AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM e2
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM s2 GROUP BY user_id, sess
  )
  UNION ALL
  SELECT 'interval_join_30m',
         p.purchase_ts,
         CAST(p.user_id AS VARCHAR),
         CAST(p.purchase_id AS BIGINT),
         CAST(p.click_id AS DOUBLE)
  FROM (
    SELECT e1.user_id,
           e1.event_id AS purchase_id,
           e2.event_id AS click_id,
           strftime(e1.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts <= e1.ts
     AND e2.ts >= e1.ts - INTERVAL 30 MINUTE
    WHERE e1.event_type = 'purchase' AND e2.event_type = 'click'
  ) p
) ORDER BY win_kind, window_start, event_type, n_events, total_value
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-parity form of the stream-stream interval join."""
    ev = load_table(spark, sf_dir, "events")
    out = SO.purchase_click_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
    )
    return out.orderBy("user_id", "purchase_id", "click_id")


STREAM_INTERVAL_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY p.user_id, purchase_id, click_id
"""

