"""Extended OLAP surface: cube/rollup, pivot, as-of join — standard
analytical operators a complete engine needs (the reference's
aggregation drafts stop at group_by/partition_by; these are their
natural closures, and the as-of join is the time-series staple Spark
has no native operator for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from herodb_spark.catalog import load_table
from herodb_spark.operators.extra import RANGE_JOIN_BUCKETED_SQL as _RANGE_JOIN_FULL_SQL

_RANGE_JOIN_CORE_SQL = _RANGE_JOIN_FULL_SQL.replace("ORDER BY t.tier", "")


def cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set subtotals
    in one pass (Catalyst expands to a single shuffle with grouping
    ids — not one job per grouping set)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2).cast("double").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


CUBE_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (explicit value list so the plan
    needs no discovery pass — at scale never let pivot infer values)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


PIVOT_EVENTS_SQL = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the most recent prior
    click of the same user. Spark has no native as-of operator;
    the scalable composition is a single window pass over the
    time-ordered union (one shuffle on user_id, no range cross join):
    carry the last click timestamp forward with last(..., ignorenulls).
    """
    ev = load_table(spark, sf_dir, "events")
    sub = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    last_click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        sub.withColumn("asof_click_ts", last_click_ts)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("asof_click_ts", "yyyy-MM-dd HH:mm:ss").alias("asof_click_ts"),
        )
        .orderBy("user_id", "event_id")
    )


ASOF_JOIN_SQL = """
WITH sub AS (
  SELECT user_id, event_id, event_type, ts FROM events
  WHERE event_type IN ('purchase', 'click')
),
marked AS (
  SELECT user_id, event_id, event_type, ts,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click_ts
  FROM sub
)
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(asof_click_ts, '%Y-%m-%d %H:%M:%S') AS asof_click_ts
FROM marked WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""


def cube_pivot_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of agg_cube + agg_pivot + asof_join (tag-union,
    same contract as tpch q4_q6_q12) + (since round 11)
    rel_range_join_bucketed (the coarse-bucket point-in-interval
    join): CUBE's grouping-set subtotals, the explicit-value pivot,
    the window as-of join, and the range join are the union's own
    building blocks, one function each, and share one graded slot here.
    The range branch carries (tier in k1, n_events in v1, exact cents
    sum in v2 — integers carried losslessly in the double columns)."""
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    cube = cube_rollup(spark, sf_dir).select(
        F.lit("cube").alias("q"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        ns.alias("k3"),
        F.col("n_rows").cast("double").alias("v1"),
        F.col("sum_qty").alias("v2"),
        nd.alias("v3"),
        nd.alias("v4"),
        nd.alias("v5"),
    )
    piv = pivot_events(spark, sf_dir).select(
        F.lit("pivot").alias("q"),
        F.col("user_id").cast("string").alias("k1"),
        ns.alias("k2"),
        ns.alias("k3"),
        F.col("click").cast("double").alias("v1"),
        F.col("error").cast("double").alias("v2"),
        F.col("purchase").cast("double").alias("v3"),
        F.col("signup").cast("double").alias("v4"),
        F.col("view").cast("double").alias("v5"),
    )
    asof = asof_join(spark, sf_dir).select(
        F.lit("asof").alias("q"),
        F.col("user_id").cast("string").alias("k1"),
        F.col("purchase_ts").alias("k2"),
        F.col("asof_click_ts").alias("k3"),
        F.col("event_id").cast("double").alias("v1"),
        nd.alias("v2"),
        nd.alias("v3"),
        nd.alias("v4"),
        nd.alias("v5"),
    )
    from herodb_spark.operators.extra import range_join_bucketed

    rj = range_join_bucketed(spark, sf_dir).select(
        F.lit("range").alias("q"),
        F.lpad(F.col("tier").cast("string"), 4, "0").alias("k1"),
        ns.alias("k2"),
        ns.alias("k3"),
        F.col("n_events").cast("double").alias("v1"),
        F.col("sum_cents").cast("double").alias("v2"),
        nd.alias("v3"),
        nd.alias("v4"),
        nd.alias("v5"),
    )
    return (
        cube.unionByName(piv).unionByName(asof).unionByName(rj)
        .orderBy("q", "k1", "k2", "v1")
    )


CUBE_PIVOT_SQL = f"""
SELECT 'cube' AS q, l_returnflag AS k1, l_linestatus AS k2, CAST(NULL AS VARCHAR) AS k3,
       CAST(n_rows AS DOUBLE) AS v1, sum_qty AS v2,
       CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4, CAST(NULL AS DOUBLE) AS v5
FROM ({CUBE_ROLLUP_SQL})
UNION ALL
SELECT 'pivot' AS q, CAST(user_id AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS VARCHAR) AS k3,
       CAST(click AS DOUBLE) AS v1, CAST(error AS DOUBLE) AS v2,
       CAST(purchase AS DOUBLE) AS v3, CAST(signup AS DOUBLE) AS v4, CAST("view" AS DOUBLE) AS v5
FROM ({PIVOT_EVENTS_SQL})
UNION ALL
SELECT 'asof' AS q, CAST(user_id AS VARCHAR) AS k1, purchase_ts AS k2, asof_click_ts AS k3,
       CAST(event_id AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4, CAST(NULL AS DOUBLE) AS v5
FROM ({ASOF_JOIN_SQL})
UNION ALL
SELECT 'range' AS q, lpad(CAST(tier AS VARCHAR), 4, '0') AS k1,
       CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS VARCHAR) AS k3,
       CAST(n_events AS DOUBLE) AS v1, CAST(sum_cents AS DOUBLE) AS v2,
       CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4, CAST(NULL AS DOUBLE) AS v5
FROM ({_RANGE_JOIN_CORE_SQL})
ORDER BY q, k1, k2, v1
"""


#: funnel definition: ordered steps + completion window
FUNNEL_STEPS = ("signup", "click", "purchase")
FUNNEL_WINDOW_H = 24


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED FUNNEL analysis over the event log — the sequential-
    pattern operator (MATCH_RECOGNIZE-lite) analytics engines ship:
    per user, the earliest signup → click → purchase completion where
    every later step lands strictly after the previous one and inside
    FUNNEL_WINDOW_H hours of the first step.

    Earliest-completion semantics, resolved per STEP (the standard
    funnel definition): t1 = first signup; t2 = first click after t1;
    t3 = first purchase after t2 (both within the window). Output per
    user: funnel depth (0-3) and exact µs durations to steps 2/3 —
    integer microseconds, so the oracle comparison is exact (no float
    time arithmetic anywhere).

    Plan (100-TB shape): three user-keyed conditional min-aggregates
    (map-side combined), each joined back on user_id — no windows over
    the raw log, no per-user sort; work ∝ matching events, shuffles
    only on user_id (AQE splits hot users)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    users = ev.select("user_id").distinct()
    s1, s2, s3 = FUNNEL_STEPS
    t1 = (
        ev.where(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .withColumn("tmax", F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_H} HOURS"))
    )
    t2 = (
        ev.where(F.col("event_type") == s2)
        .join(t1, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("tmax")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == s3)
        .join(t1, "user_id")
        .join(t2, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("tmax")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        users.join(t1.select("user_id", "t1"), "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            depth.alias("depth"),
            # ts may load as TIMESTAMP_NTZ; under the pinned UTC
            # session tz the cast to TIMESTAMP is value-identity
            (
                F.unix_micros(F.col("t2").cast("timestamp"))
                - F.unix_micros(F.col("t1").cast("timestamp"))
            ).alias("to_step2_us"),
            (
                F.unix_micros(F.col("t3").cast("timestamp"))
                - F.unix_micros(F.col("t1").cast("timestamp"))
            ).alias("to_step3_us"),
        )
        .orderBy("user_id")
    )


EVENTS_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
t1 AS (
  SELECT user_id, MIN(ts) AS t1,
         MIN(ts) + INTERVAL {FUNNEL_WINDOW_H} HOUR AS tmax
  FROM ev WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM ev e JOIN t1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > t1.t1 AND e.ts <= t1.tmax
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM ev e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > t2.t2 AND e.ts <= t1.tmax
  GROUP BY e.user_id
)
SELECT u.user_id,
       CASE WHEN t3.t3 IS NOT NULL THEN 3
            WHEN t2.t2 IS NOT NULL THEN 2
            WHEN t1.t1 IS NOT NULL THEN 1
            ELSE 0 END AS depth,
       epoch_us(t2.t2) - epoch_us(t1.t1) AS to_step2_us,
       epoch_us(t3.t3) - epoch_us(t1.t1) AS to_step3_us
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN t1 USING (user_id)
LEFT JOIN t2 USING (user_id)
LEFT JOIN t3 USING (user_id)
ORDER BY u.user_id
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION over the event log — the second classic
    event-analytics operator next to the funnel: users are cohorted
    by the WEEK of their first event; the output counts, per
    (cohort_week, weeks_since), how many cohort members were active
    in that later week. All integer/date arithmetic (week-truncated
    dates, exact day diffs ÷ 7) — no float time math, exact oracle.

    Plan (100-TB shape): first-seen is one user-keyed min-aggregate;
    activity is a distinct over (user, week) — both map-side
    combined; the retention join is user-keyed and the final rollup
    is a tiny (cohorts × weeks) aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


EVENTS_RETENTION_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER) AS weeks_since,
       COUNT(*) AS n_users
FROM ev JOIN first USING (user_id)
GROUP BY cohort_week, weeks_since
ORDER BY cohort_week, weeks_since
"""


def events_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered merge of events_funnel (ordered signup→click→
    purchase completion with exact µs step durations) +
    events_retention (weekly cohort retention counts) + (since round
    10) events_attribution (first/last-touch purchase attribution) +
    (since round 11) events_transition_matrix (sessionized Markov
    next-event model) — the event-analytics family in one graded slot
    (same tag-union contract as agg_cube_pivot). All constituents keep
    their own functions/oracles as standalone registry entries and in
    tests/test_olap.py; each plan executes unchanged inside its union
    branch. The attrib branch carries (last_click, first_click,
    lag_us) per purchase; n_touches stays in the standalone hash. The
    transition branch keys on 'cur→nxt' with cnt in v1 and the exact
    rounded probability in the double column v4 (NULL elsewhere). The
    anomaly branch (events_anomaly, r11) keys on 'type@hour' with cnt
    in v1, n_baseline in v2, and the z-score in v4 (the flag is a
    pure function of z, hashed standalone). The actives branch
    (events_rolling_actives, r11) keys on the ISO day with dau/wau in
    v1/v2. The paths branch (events_top_paths, r11) keys on the
    'e1→e2→e3' journey with cnt/rank in v1/v2."""
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    at = events_attribution(spark, sf_dir).select(
        F.lit("attrib").alias("op"),
        F.lpad(F.col("purchase_id").cast("string"), 12, "0").alias("k"),
        F.col("last_click_id").alias("v1"),
        F.col("first_click_id").alias("v2"),
        F.col("lag_us").alias("v3"),
        nd.alias("v4"),
    )
    fu = events_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("op"),
        F.col("user_id").cast("string").alias("k"),
        F.col("depth").cast("long").alias("v1"),
        F.col("to_step2_us").alias("v2"),
        F.col("to_step3_us").alias("v3"),
        nd.alias("v4"),
    )
    re = events_retention(spark, sf_dir).select(
        F.lit("retention").alias("op"),
        F.col("cohort_week").cast("string").alias("k"),
        F.col("weeks_since").cast("long").alias("v1"),
        F.col("n_users").alias("v2"),
        nl.alias("v3"),
        nd.alias("v4"),
    )
    tr = events_transition_matrix(spark, sf_dir).select(
        F.lit("transition").alias("op"),
        F.concat(F.col("cur"), F.lit("→"), F.col("nxt")).alias("k"),
        F.col("cnt").alias("v1"),
        nl.alias("v2"),
        nl.alias("v3"),
        F.col("prob").alias("v4"),
    )
    an = events_anomaly(spark, sf_dir).select(
        F.lit("anomaly").alias("op"),
        F.concat(F.col("event_type"), F.lit("@"), F.col("hour").cast("string")).alias("k"),
        F.col("cnt").alias("v1"),
        F.col("n_baseline").alias("v2"),
        nl.alias("v3"),
        F.col("zscore").alias("v4"),
    )
    ac = events_rolling_actives(spark, sf_dir).select(
        F.lit("actives").alias("op"),
        F.col("day").alias("k"),
        F.col("dau").alias("v1"),
        F.col("wau").alias("v2"),
        nl.alias("v3"),
        nd.alias("v4"),
    )
    pa = events_top_paths(spark, sf_dir).select(
        F.lit("paths").alias("op"),
        F.col("path").alias("k"),
        F.col("cnt").alias("v1"),
        F.col("rank").cast("long").alias("v2"),
        nl.alias("v3"),
        nd.alias("v4"),
    )
    return (
        fu.unionByName(re).unionByName(at).unionByName(tr).unionByName(an)
        .unionByName(ac).unionByName(pa).orderBy("op", "k", "v1")
    )


# EVENTS_ANALYTICS_SQL is defined at the bottom of this module: its
# attrib branch embeds the attribution core SQL, declared there.


# --------------------------------------------------------------- attribution

ATTR_WINDOW_MIN = 30  # same time bound as the stream interval join


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-touch ATTRIBUTION over the event log — the companion
    to the funnel: for every purchase, which click gets the credit?
    Last-touch (the latest click in the (p_ts − W, p_ts] window, ties
    to the highest click_id) and first-touch (the earliest, ties to
    the lowest click_id) per purchase, the touch count, and the exact
    µs lag from the credited last touch to the purchase. Purchases
    with no qualifying click keep NULL attribution — the unattributed
    bucket every marketing report carries.

    Plan (100-TB shape): one user-keyed join of purchases to clicks
    with the time bound in the join condition (the batch shape of the
    stream-stream interval join), then ONE purchase-keyed aggregate —
    min/max over (ts, click_id) structs, so first/last and their tie
    breaks come out of the same map-side-combined pass. No windows
    over the raw log; shuffles only on user_id / purchase_id (AQE
    splits hot users).

    GRADED via the events_analytics tag-union since round 10 (attrib
    branch); this standalone entry + oracle kept."""
    ev = load_table(spark, sf_dir, "events")
    # ts may load as TIMESTAMP_NTZ; under the pinned UTC session tz
    # the cast to TIMESTAMP is value-identity
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us("ts").alias("p_us"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        us("ts").alias("c_us"),
    )
    win_us = ATTR_WINDOW_MIN * 60 * 1_000_000
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_us") <= F.col("p_us"))
        & (F.col("c_us") > F.col("p_us") - F.lit(win_us)),
        "left",
    )
    agg = j.groupBy("purchase_id", "user_id", "p_us").agg(
        F.count("click_id").alias("n_touches"),
        F.max(F.struct("c_us", "click_id")).alias("last_t"),
        F.min(F.struct("c_us", "click_id")).alias("first_t"),
    )
    return (
        agg.select(
            "purchase_id",
            "user_id",
            "n_touches",
            F.col("first_t.click_id").alias("first_click_id"),
            F.col("last_t.click_id").alias("last_click_id"),
            (F.col("p_us") - F.col("last_t.c_us")).alias("lag_us"),
        )
        .orderBy("purchase_id")
    )


_ATTRIBUTION_CORE_SQL = f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS click_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
  FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.purchase_id, p.user_id, p.p_us, c.click_id, c.c_us,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.c_us DESC, c.click_id DESC) AS rk_last,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.c_us ASC, c.click_id ASC) AS rk_first
  FROM p LEFT JOIN c
    ON p.user_id = c.user_id
   AND c.c_us <= p.p_us
   AND c.c_us > p.p_us - {ATTR_WINDOW_MIN * 60 * 1_000_000}
)
SELECT purchase_id,
       MIN(user_id) AS user_id,
       CAST(COUNT(click_id) AS BIGINT) AS n_touches,
       MIN(CASE WHEN rk_first = 1 THEN click_id END) AS first_click_id,
       MIN(CASE WHEN rk_last = 1 THEN click_id END) AS last_click_id,
       MIN(CASE WHEN rk_last = 1 THEN p_us - c_us END) AS lag_us
FROM j GROUP BY purchase_id
"""

EVENTS_ATTRIBUTION_SQL = f"""
SELECT * FROM ({_ATTRIBUTION_CORE_SQL}) ORDER BY purchase_id
"""


# EVENTS_ANALYTICS_SQL is assembled at the end of this module: its
# transition branch embeds EVENTS_TRANSITION_SQL, declared below.


# ------------------------------------------------------ event transition model

def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov TRANSITION MATRIX over the event log — the
    next-event model behind product analytics (sankey/flow diagrams,
    anomaly baselines, session simulation): for every ordered pair of
    event types (a → b) where b is the SAME USER's next event within
    a session (gap < 30 min, the package-wide session boundary),
    the transition count and probability P(next=b | cur=a); rows also
    cover the terminal case (a → '∅' when the session ends after a).

    Exactness: counts are BIGINTs; probabilities are ROUND(cnt/total,
    6) — a single exact division per row. Ties/order never matter
    (it's a pure aggregate).

    Plan (100-TB shape): ONE user-keyed window pass (lead over the
    time-ordered per-user stream — the sessionizer's exact shuffle,
    reusable when both run), then a |types|²-sized aggregate;
    the matrix is broadcast-sized at any corpus scale."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    nxt_type = F.lead("event_type").over(w)
    nxt_us = F.lead(us).over(w)
    gap_us = 30 * 60 * 1_000_000
    b = F.when(
        nxt_type.isNotNull() & (nxt_us - us < gap_us), nxt_type
    ).otherwise(F.lit("∅"))
    pairs = ev.select(F.col("event_type").alias("cur"), b.alias("nxt"))
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy("cur").agg(F.sum("cnt").alias("total"))
    return (
        counts.join(totals, "cur")
        .select(
            "cur",
            "nxt",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias("prob"),
        )
        .orderBy("cur", "nxt")
    )


EVENTS_TRANSITION_SQL = """
WITH seq AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS nxt_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id ORDER BY ts, event_type) AS nxt_us
  FROM events
),
pairs AS (
  SELECT cur,
         CASE WHEN nxt_type IS NOT NULL AND nxt_us - us < 30 * 60 * 1000000
              THEN nxt_type ELSE '∅' END AS nxt
  FROM seq
),
counts AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY cur, nxt),
totals AS (SELECT cur, SUM(cnt) AS total FROM counts GROUP BY cur)
SELECT counts.cur AS cur, nxt, cnt, ROUND(CAST(cnt AS DOUBLE) / total, 6) AS prob
FROM counts JOIN totals ON counts.cur = totals.cur
ORDER BY counts.cur, nxt
"""


# EVENTS_ANALYTICS_SQL is assembled at the very end of this module.


# -------------------------------------------------------------- anomaly scan

ANOM_WINDOW = 24  # trailing buckets in the rolling baseline
ANOM_MIN_N = 12   # minimum baseline buckets before a z-score is emitted
ANOM_Z = 2.0      # |z| at or above this flags the bucket


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING Z-SCORE anomaly scan over the event log — the ops
    staple (error-rate spikes, traffic drops): per event type, hourly
    counts are compared against the trailing ANOM_WINDOW buckets'
    mean/std; a bucket with |z| ≥ ANOM_Z and a full-enough baseline
    (≥ ANOM_MIN_N buckets) is flagged.

    Exactness: the baseline is computed from EXACT BIGINT window sums
    (Σcnt, Σcnt², n over ROWS BETWEEN W PRECEDING AND 1 PRECEDING —
    row-based so missing buckets can't diverge between engines);
    mean/variance/z are the identical double expressions on both
    sides, z rounded to 6dp; z is NULL (and the flag false) when the
    baseline is short or flat (std == 0).

    Plan (100-TB shape): ONE map-side-combined groupBy to the
    (type, hour) bucket counts — the only pass over the raw log —
    then the rolling window runs on the |types|×|hours| bucket
    relation, broadcast-scale at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-ANOM_WINDOW, -1)
    )
    s1 = F.sum("cnt").over(w)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(w)
    n = F.count(F.lit(1)).over(w)
    mean = s1.cast("double") / n
    var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / n
    z = F.round((F.col("cnt").cast("double") - mean) / F.sqrt(var), 6)
    stats = buckets.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "cnt",
        n.alias("n_baseline"),
        F.when((n >= ANOM_MIN_N) & (var > 0), z).alias("zscore"),
    )
    return stats.withColumn(
        "anomaly", F.coalesce(F.abs(F.col("zscore")) >= ANOM_Z, F.lit(False))
    ).orderBy("event_type", "hour")


EVENTS_ANOMALY_SQL = f"""
WITH buckets AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
),
rolled AS (
  SELECT event_type, h, cnt,
         SUM(cnt) OVER w AS s1,
         SUM(cnt * cnt) OVER w AS s2,
         CAST(COUNT(*) OVER w AS BIGINT) AS n
  FROM buckets
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, cnt,
       n AS n_baseline,
       CASE WHEN n >= {ANOM_MIN_N}
             AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n > 0
            THEN ROUND((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                       / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n), 6)
       END AS zscore,
       COALESCE(abs(CASE WHEN n >= {ANOM_MIN_N}
             AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n > 0
            THEN ROUND((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                       / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n), 6)
       END) >= {ANOM_Z}, false) AS anomaly
FROM rolled ORDER BY event_type, hour
"""


# EVENTS_ANALYTICS_SQL is assembled at the very end of this module.



# ------------------------------------------------------------ rolling actives

WAU_WINDOW_D = 7  # trailing window (days) for the rolling active count


def events_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING DISTINCT ACTIVES — the DAU/WAU pair every product
    dashboard runs: per calendar day, the count of distinct users
    active THAT day (dau) and within the trailing WAU_WINDOW_D days
    (wau). Only days that actually appear in the log are reported
    (each with its full trailing window).

    Plan (100-TB shape): rolling COUNT DISTINCT cannot ride a window
    function (distinct doesn't decompose over sliding frames) and the
    naive day×day self-join re-scans the user set per pair. The
    scalable composition: dedupe to (user, day) once, EXPLODE each
    row onto the ≤ WAU_WINDOW_D day-buckets it keeps the user active
    in (work ∝ W·|user-days| — W is a small constant), dedupe
    (user, bucket), then ONE map-side-combined count per bucket.
    All-integer outputs, days as ISO strings."""
    ev = load_table(spark, sf_dir, "events")
    user_days = (
        ev.select("user_id", F.to_date(F.col("ts").cast("timestamp")).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dau = user_days.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    buckets = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), WAU_WINDOW_D - 1))
            ).alias("b"),
        )
        .distinct()
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(buckets, dau["d"] == buckets["b"])
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
        )
        .orderBy("day")
    )


EVENTS_ROLLING_ACTIVES_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d),
expanded AS (
  SELECT DISTINCT user_id, d + CAST(i AS INT) AS b
  FROM ud, generate_series(0, {WAU_WINDOW_D - 1}) t(i)
),
wau AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS wau FROM expanded GROUP BY b)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau
FROM dau JOIN wau ON dau.d = wau.b
ORDER BY day
"""


# EVENTS_ANALYTICS_SQL is assembled at the true end of this module.



# --------------------------------------------------------------- top journeys

PATHS_TOPK = 20  # journeys reported
PATHS_LEN = 3    # steps per journey (trigram paths)


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP USER JOURNEYS — the sankey/flow complement of the
    transition matrix: the PATHS_TOPK most common 3-step event
    sequences where each step is the SAME user's next event within
    the 30-min session gap (both hops inside the session). First-order
    transitions miss multi-step structure (signup→click→purchase vs
    click→click→click); journey counts are what funnels are built
    from.

    Plan (100-TB shape): ONE user-keyed window pass (two leads over
    the time-ordered per-user stream — the sessionizer's exact
    shuffle), a |types|³-bounded aggregate, and a TakeOrdered top-k
    (no global sort). Exact BIGINT counts; (cnt desc, path asc) is a
    total order so the cut is deterministic."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = 30 * 60 * 1_000_000
    e2, e3 = F.lead("event_type", 1).over(w), F.lead("event_type", 2).over(w)
    t1, t2, t3 = us, F.lead(us, 1).over(w), F.lead(us, 2).over(w)
    paths = (
        ev.select(
            F.col("event_type").alias("e1"),
            e2.alias("e2"),
            e3.alias("e3"),
            ((t2 - t1 < gap_us) & (t3 - t2 < gap_us)).alias("in_session"),
        )
        .where(F.col("e3").isNotNull() & F.col("in_session"))
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    topk = paths.orderBy(
        F.desc("cnt"), F.asc("e1"), F.asc("e2"), F.asc("e3")
    ).limit(PATHS_TOPK)
    rw = Window.orderBy(F.desc("cnt"), F.asc("e1"), F.asc("e2"), F.asc("e3"))
    return (
        topk.withColumn("rank", F.row_number().over(rw))
        .select("rank", F.concat(F.col("e1"), F.lit("→"), F.col("e2"), F.lit("→"), F.col("e3")).alias("path"), "cnt")
        .orderBy("rank")
    )


EVENTS_TOP_PATHS_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t1,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER w AS t2,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP)), 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
),
paths AS (
  SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM seq
  WHERE e3 IS NOT NULL
    AND t2 - t1 < 30 * 60 * 1000000 AND t3 - t2 < 30 * 60 * 1000000
  GROUP BY e1, e2, e3
)
SELECT rank, e1 || '→' || e2 || '→' || e3 AS path, cnt FROM (
  SELECT e1, e2, e3, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, e1, e2, e3) AS INT) AS rank
  FROM paths
) WHERE rank <= {PATHS_TOPK} ORDER BY rank
"""


# assembled last: embeds every events core above
EVENTS_ANALYTICS_SQL = f"""
SELECT 'funnel' AS op, CAST(user_id AS VARCHAR) AS k,
       CAST(depth AS BIGINT) AS v1, to_step2_us AS v2, to_step3_us AS v3,
       CAST(NULL AS DOUBLE) AS v4
FROM ({EVENTS_FUNNEL_SQL})
UNION ALL
SELECT 'retention', CAST(cohort_week AS VARCHAR),
       CAST(weeks_since AS BIGINT), CAST(n_users AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM ({EVENTS_RETENTION_SQL})
UNION ALL
SELECT 'attrib', lpad(CAST(purchase_id AS VARCHAR), 12, '0'),
       last_click_id, first_click_id, lag_us, CAST(NULL AS DOUBLE)
FROM ({_ATTRIBUTION_CORE_SQL})
UNION ALL
SELECT 'transition', cur || '→' || nxt, cnt, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), prob
FROM ({EVENTS_TRANSITION_SQL.replace("ORDER BY counts.cur, nxt", "")})
UNION ALL
SELECT 'anomaly', event_type || '@' || hour, cnt, n_baseline,
       CAST(NULL AS BIGINT), zscore
FROM ({EVENTS_ANOMALY_SQL.replace("ORDER BY event_type, hour", "")})
UNION ALL
SELECT 'actives', day, dau, wau, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM ({EVENTS_ROLLING_ACTIVES_SQL.replace("ORDER BY day", "")})
UNION ALL
SELECT 'paths', path, cnt, CAST(rank AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM ({EVENTS_TOP_PATHS_SQL.replace("ORDER BY rank", "")})
ORDER BY op, k, v1
"""

