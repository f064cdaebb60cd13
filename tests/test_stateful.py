from __future__ import annotations

from herodb_spark.catalog import load_table
from herodb_spark.streaming import ops as SO
from herodb_spark.streaming import stateful as SS


def _final_spend(rows) -> dict:
    """user_id -> (n_events, total_value) of the LAST spend emission:
    update mode emits once per micro-batch per touched user, and
    n_events is strictly monotone per user, so the max-n row is it."""
    got: dict = {}
    for r in rows:
        if r.kind == "spend" and r.n_events > got.get(r.user_id, (0, 0.0))[0]:
            got[r.user_id] = (r.n_events, r.total_value)
    return got


def _assert_spend_matches_batch(got: dict, events) -> None:
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in SS.running_spend_batch(events).collect()
    }
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        gn, gt = got[uid]
        assert gn == n, (uid, gn, n)
        assert abs(gt - total) < 0.05, (uid, gt, total)


def test_stateful_running_spend_matches_batch(spark, sf_dir):
    stream_in = SO.stream_events(spark, sf_dir)
    q = (
        SS.spend_sessions_stream(stream_in)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    _assert_spend_matches_batch(
        _final_spend(spark.sql("SELECT * FROM t_state").collect()),
        load_table(spark, sf_dir, "events"),
    )


def test_stateful_sessionize_across_microbatches(spark, sf_dir, tmp_path):
    """Custom gap sessionization with EventTimeTimeout, driven through
    THREE time-ordered micro-batches so sessions genuinely span batch
    boundaries and close both ways (in-batch gap AND watermark
    timeout). Every session that ended comfortably before the final
    watermark must be emitted exactly once with batch-identical stats;
    the open tails may legitimately stay in the state store. The spend
    fold shares the state row, so its last emission per user must
    equal the whole-log totals."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    src = tmp_path / "batches"
    src.mkdir()
    for i in range(3):
        part = ev.where(
            (F.col("ts") >= lo + i * span) & (F.col("ts") < lo + (i + 1) * span)
            if i < 2
            else (F.col("ts") >= lo + 2 * span)
        )
        # the file-stream source lists plain files, not nested write
        # dirs — flatten each batch to a single parquet file
        stage = tmp_path / f"stage{i}"
        part.coalesce(1).write.parquet(str(stage))
        (pf,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        pf.rename(src / f"b{i}.parquet")
    schema = spark.read.parquet(str(src / "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
    )
    q = (
        SS.spend_sessions_stream(stream)
        .writeStream.format("memory")
        .queryName("t_sess_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    out = spark.sql("SELECT * FROM t_sess_state").collect()
    # the spend fold carries its state across the same three batches
    _assert_spend_matches_batch(_final_spend(out), ev)
    sess = [r for r in out if r.kind == "session"]
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in sess
    }
    assert len(got) == len(sess), "a closed session was emitted twice"
    batch = SS.sessionize_sessions_batch(ev).collect()
    want_all = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in batch
    }
    # sessions ended well before the final watermark MUST have closed
    import datetime

    cutoff = (hi - datetime.timedelta(minutes=31 + 2)).strftime("%Y-%m-%d %H:%M:%S")
    must_close = {k: v for k, v in want_all.items() if v[0] < cutoff}
    assert set(got) <= set(want_all), sorted(set(got) - set(want_all))[:5]
    missing = set(must_close) - set(got)
    assert not missing, sorted(missing)[:5]
    for k in must_close:
        ge, gn, gt = got[k]
        we, wn, wt = want_all[k]
        assert ge == we and gn == wn, (k, got[k], want_all[k])
        assert abs(gt - wt) < 0.05, (k, gt, wt)


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the update fn."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms


def test_stateful_sessionize_late_event_extends_backwards():
    """Regression: a late (out-of-order, within-watermark) event
    earlier than the carried session_start must pull the start back,
    matching what the batch oracle computes over the full log."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 10:00:00").value // 1_000  # µs
    MIN = 60 * 1_000_000
    # spend (2, 10.0); open session 10:00-10:05 of 2 events, 10.0
    state = _FakeState(value=(2, 10.0, base, base + 5 * MIN, 2, 10.0, True))
    late = pd.DataFrame(
        {"user_id": [7], "ts": [pd.Timestamp("2024-01-01 09:45:00")], "value": [1.0]}
    )
    out = list(SS._update_spend_session_state((7,), iter([late]), state))
    assert len(out) == 1
    # nothing closed: the only row is the updated running spend
    assert out[0]["kind"].tolist() == ["spend"]
    assert out[0]["n_events"].tolist() == [3]
    n, total, s, l, sn, st, is_open = state.get
    assert (n, total) == (3, 11.0)
    assert s == base - 15 * MIN, "session_start must move back to 09:45"
    assert l == base + 5 * MIN and sn == 3 and abs(st - 11.0) < 1e-9 and is_open
    assert state.timeout_set == (base + 35 * MIN) // 1_000


def test_stateful_timeout_closes_session_keeps_spend():
    """The watermark TIMEOUT emits the open session and clears it, but
    keeps the running spend: a user's totals must survive the expiry
    of their session."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 10:00:00").value // 1_000  # µs
    MIN = 60 * 1_000_000
    state = _FakeState(
        value=(5, 20.0, base, base + 5 * MIN, 2, 7.5, True), timed_out=True
    )
    (out,) = SS._update_spend_session_state((7,), iter([]), state)
    assert out.to_dict("records") == [
        {
            "user_id": 7,
            "kind": "session",
            "session_start": "2024-01-01 10:00:00",
            "session_end": "2024-01-01 10:05:00",
            "n_events": 2,
            "total_value": 7.5,
        }
    ]
    assert state.get == (5, 20.0, 0, 0, 0, 0.0, False)
    assert state.timeout_set is None


def test_stateful_sessionize_out_of_order_batches(spark, tmp_path):
    """Regression for the two carried-state bugs: (a) a late
    within-watermark event must BRIDGE the carried session to a
    following event instead of splitting it (the gap compare must use
    the carried interval, not the batch-local predecessor); (b) a late
    event more than gap BEFORE the carried start must form its own
    closed session, not silently extend the carried one backwards."""
    import datetime as dt

    from pyspark.sql import functions as F

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, 0) + dt.timedelta(minutes=m)

    # b0: user 1 = one continuous session 10:00..12:00 (20-min steps);
    #     user 2 = open session 12:00..12:10
    b0 = [(1, t(10, 0 + 20 * i), 1.0) for i in range(4)] + [
        (1, t(11, 20), 1.0), (1, t(11, 40), 1.0), (1, t(12, 0), 1.0),
        (2, t(12, 0), 5.0), (2, t(12, 10), 5.0),
    ]
    # b1: late arrivals — user 1 @11:00 (inside carried span) + 12:20
    #     (bridged); user 2 @11:00 (60min before carried start)
    b1 = [(1, t(11, 0), 1.0), (1, t(12, 20), 1.0), (2, t(11, 0), 5.0)]
    # b2: user 1 @15:00 closes the bridged session by gap
    b2 = [(1, t(15, 0), 1.0)]

    src = tmp_path / "ooo"
    src.mkdir()
    for i, rows in enumerate((b0, b1, b2)):
        stage = tmp_path / f"s{i}"
        spark.createDataFrame(rows, "user_id long, ts timestamp, value double").coalesce(
            1
        ).write.parquet(str(stage))
        (pf,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        pf.rename(src / f"b{i}.parquet")

    schema = spark.read.parquet(str(src / "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
    )
    q = (
        SS.spend_sessions_stream(stream)
        .writeStream.format("memory")
        .queryName("t_sess_ooo")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_sess_ooo WHERE kind = 'session'").collect()
    }
    # (b) user 2's late 11:00 = its own closed 1-event session
    assert got[(2, "2024-01-01 11:00:00")] == ("2024-01-01 11:00:00", 1, 5.0)
    # (a) user 1's carried session bridged through 11:00/12:20 and
    # closed by the 15:00 gap as ONE session of 9 events
    assert got[(1, "2024-01-01 10:00:00")] == ("2024-01-01 12:20:00", 9, 9.0)
    # the only other legitimate emission is user 2's carried session
    # closed by watermark TIMEOUT; the buggy phantom ([10:00..12:00])
    # is excluded by the exact-match assertions above
    assert set(got) <= {
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 11:00:00"),
        (2, "2024-01-01 12:00:00"),
    }, got
