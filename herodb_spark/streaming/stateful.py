"""Custom stateful streaming operator via applyInPandasWithState —
the Spark-native form of herodb's incremental computed tables
(`data ... :- rule` with Cache index, Kernel/Drafts/draft:55-75):
state that updates as the log grows.

Operator: `spend_sessions_stream`, ONE per-user operator holding two
folds in one state row (both key on user_id, so one state store,
one round of micro-batch planning and one file listing serve both):

- running spend — (n_events, total_value) across micro-batches,
  emitted as a kind='spend' row per touched user per batch (update
  semantics): an incrementally-maintained aggregate, the streaming
  analog of a cached computed table;
- gap sessionization with EVENT-TIME TIMEOUT — the full custom
  stateful shape (state + watermark-driven expiry), vs the built-in
  F.session_window used by streaming/ops.sessionize. Closed sessions
  are emitted as kind='session' rows; the open tail session stays in
  the state store until the watermark passes its last event + gap.

The batch folds `running_spend_batch` and `sessionize_sessions_batch`
are the oracles: the final spend row per user equals the former, and
every closed session equals one of the latter's sessions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_US = 30 * 60 * 1_000_000
OUTPUT_SCHEMA = (
    "user_id long, kind string, session_start string, session_end string, "
    "n_events long, total_value double"
)
#: spend fold (n, total) + open session (s, l: µs epoch; sn, st) + flag
STATE_SCHEMA = (
    "n long, total double, s long, l long, sn long, st double, open boolean"
)


def _fmt_us(us: int) -> str:
    return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S")


def _update_spend_session_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Spend fold + interval-fold sessionization over one shared
    per-user state row. Sessions close two ways: (a) a later event for
    the same user arrives >= gap after the last one (observed
    in-batch), or (b) the event-time watermark passes last + gap with
    no new event — the state TIMEOUT, which is what
    applyInPandasWithState adds over a stateless transform. Data
    batches update both folds and emit one 'spend' row (update
    semantics — n_events strictly monotone per user, so the max-n row
    is the final state) plus a 'session' row per CLOSED session; the
    timeout emits the open session and KEEPS the spend accumulators
    (update + no new timeout, never state.remove(): the session's
    expiry must not erase the running totals)."""
    (user_id,) = key
    rows: list[dict] = []

    def session_row(s: int, l: int, n: int, t: float) -> dict:
        return {
            "user_id": user_id,
            "kind": "session",
            "session_start": _fmt_us(s),
            "session_end": _fmt_us(l),
            "n_events": n,
            "total_value": round(t, 2),
        }

    if state.exists:
        n, total, s, l, sn, st, is_open = state.get
    else:
        n, total, s, l, sn, st, is_open = 0, 0.0, 0, 0, 0, 0.0, False
    if state.hasTimedOut:
        if is_open:
            rows.append(session_row(s, l, sn, st))
        state.update((int(n), float(total), 0, 0, 0, 0.0, False))
        # no new timeout: only an open session expires
    else:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        n += len(pdf)
        total += float(pdf["value"].sum())
        pdf = pdf.sort_values("ts")
        ts = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1_000
        vals = pdf["value"].to_numpy(dtype="float64")
        # INTERVAL FOLD: the carried open session [s, l] participates
        # as one item alongside the batch events (each a point item),
        # all sorted by start; consecutive items merge when the next
        # start is strictly within `gap` of the current end — the same
        # boundary as F.session_window and the graded lag+cumsum
        # sessionizer (split at exactly gap). This is what makes
        # out-of-order (within-watermark) arrivals correct: an event
        # between two batch events that individually look > gap apart
        # still bridges them through the carried interval, and a late
        # event more than gap BEFORE the carried start forms its own
        # (already closed) session instead of silently merging.
        items = [[int(x), int(x), 1, float(v)] for x, v in zip(ts, vals)]
        if is_open:
            items.append([int(s), int(l), int(sn), float(st)])
        items.sort(key=lambda it: (it[0], it[1]))
        merged = [items[0]]
        for it in items[1:]:
            cur = merged[-1]
            if it[0] - cur[1] >= SESSION_GAP_US:
                merged.append(it)
            else:
                cur[1] = max(cur[1], it[1])
                cur[2] += it[2]
                cur[3] += it[3]
        for s_, l_, n_, t_ in merged[:-1]:
            rows.append(session_row(s_, l_, n_, t_))
        s, l, sn, st = merged[-1]
        state.update((int(n), float(total), int(s), int(l), int(sn), float(st), True))
        # expire when the watermark passes last + gap (epoch millis)
        state.setTimeoutTimestamp((int(l) + SESSION_GAP_US) // 1_000)
        rows.append(
            {
                "user_id": user_id,
                "kind": "spend",
                "session_start": None,
                "session_end": None,
                "n_events": n,
                "total_value": round(total, 2),
            }
        )
    yield pd.DataFrame(
        rows
        or {
            "user_id": pd.Series(dtype="int64"),
            "kind": pd.Series(dtype="object"),
            "session_start": pd.Series(dtype="object"),
            "session_end": pd.Series(dtype="object"),
            "n_events": pd.Series(dtype="int64"),
            "total_value": pd.Series(dtype="float64"),
        }
    )


def spend_sessions_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming form. Input must carry a watermark on `ts`. Emits
    kind='spend' rows (one per batch per touched user; the last one
    per user is its running total) and kind='session' rows (each
    closed session exactly once)."""
    return (
        events_stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_spend_session_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_sessions_batch(events: DataFrame) -> DataFrame:
    """Batch oracle: the same sessions via lag + cumsum (start, end,
    count, total per session)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond precision, matching the stateful operator's gap
    # compare — whole-second truncation would disagree on gaps within
    # 1s of the 30-min boundary. Split at EXACTLY gap (>=): the
    # package-wide session boundary (F.session_window and the graded
    # lag+cumsum sessionizer both split when the gap reaches 30:00).
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.when(us - F.lag(us).over(w) >= SESSION_GAP_US, 1).otherwise(0)
    sess = (
        F.sum(
            F.when(F.lag("ts").over(w).isNull(), 1).otherwise(gap)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return (
        events.withColumn("sess", sess)
        .groupBy("user_id", "sess")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .drop("sess")
    )


def running_spend_batch(events: DataFrame) -> DataFrame:
    """Batch-equivalent fold (single micro-batch semantics)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
