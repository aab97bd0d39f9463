"""Streaming and event-time queries over the ``events`` table: the
foreachBatch engagement sink, incremental rollups, tumbling/sliding
windows, sessions, as-of and interval joins, funnels, cohorts, journeys,
attribution, rolling and EWMA series, gap-fill, DAU/WAU engagement and
RFM segments.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import temporal
from .registry import _cents, load_table, register


# ---------------------------------------------------------------------------
# T3 — tumbling event-time window (the daily GROUP BY dt generalized to
# F.window; batch form of the streaming windowed aggregate). Epoch-aligned
# 6h buckets on both engines.
# ---------------------------------------------------------------------------
@register(
    "tumbling_window_agg",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS win_start,
           event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total
    FROM events
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(_cents()) / 100.0).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
        .orderBy("win_start", "event_type")
    )


@register(
    "sliding_window_agg",
    oracle="""
    WITH shifted AS (
        SELECT make_timestamp((epoch_us(ts) // 10800000000) * 10800000000
                              - s.k * 10800000000) AS win_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) s
    )
    SELECT win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total
    FROM shifted
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (sliding) windows: 6-hour width, 3-hour slide — each
    event lands in exactly width/slide = 2 windows. Spark's window()
    expands rows BEFORE the aggregate (an Expand-like generator), so the
    shuffle carries 2x rows but stays a single partial+final hash
    aggregate — same plan family as tumbling, no self-join. The oracle
    states the expansion directly: each event assigned to its slide-
    aligned window start and the one before it."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(_cents()) / 100.0).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
        .orderBy("win_start", "event_type")
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firstday AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT f.cohort_day,
           CAST(a.day - f.cohort_day AS BIGINT) AS days_since,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM act a JOIN firstday f USING (user_id)
    GROUP BY f.cohort_day, days_since
    ORDER BY f.cohort_day, days_since
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle: users grouped by first-seen day, counted
    on each subsequent active day — the standard product-analytics rollup.
    Two aggregations + one join, all keyed on user_id: the first-seen
    aggregate, the distinct (user, day) activity set, and their join all
    hash-partition on the SAME key, so Catalyst reuses one exchange
    (no re-shuffle between the steps); only the final small
    (cohort, offset) aggregate re-keys."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = e.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "days_since")
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after_click
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click after view -> purchase
    after click) in ONE shuffle of the fact table. The join-chain
    formulation (stage N semi-joined to stage N-1's first-completion
    times) scans events six times through three shuffles; instead, one
    window pass per user computes the running first-view time and the
    running first-qualifying-click time, a purchase qualifies when it
    strictly follows the running click min, and the per-user flag
    aggregate reuses the window's hash partitioning (no second
    exchange). Equivalence to the stage-join semantics: a qualifying
    event exists strictly before row R iff the running min at R is
    strictly below R's timestamp — ties are excluded by `>` on both
    formulations. Strictly-ordered sequence semantics preserved: a
    click before the first view never counts."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = F.col("event_type")
    rv = e.withColumn("rv", F.min(F.when(t == "view", F.col("ts"))).over(w))
    rc = rv.withColumn(
        "rc",
        F.min(
            F.when((t == "click") & (F.col("ts") > F.col("rv")), F.col("ts"))
        ).over(w),
    )
    per_user = rc.groupBy("user_id").agg(
        F.max((t == "view").cast("int")).alias("has_view"),
        F.max(
            ((t == "click") & (F.col("ts") > F.col("rv"))).cast("int")
        ).alias("has_click"),
        F.max(
            ((t == "purchase") & (F.col("ts") > F.col("rc"))).cast("int")
        ).alias("has_purchase"),
    )
    return per_user.agg(
        F.sum("has_view").cast("long").alias("n_view"),
        F.sum("has_click").cast("long").alias("n_click_after_view"),
        F.sum("has_purchase").cast("long").alias("n_purchase_after_click"),
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions per user (30-min inactivity): the
# batch form of the streaming session-window operator. lag + conditional
# cumulative sum; one shuffle on user_id shared by both window passes.
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session,
               event_id
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS session_value,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS duration_sec
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min inactivity) — batch twin of the
    streaming session-window operator. Session totals sum exact integer
    CENTS (see ``_cents``): round 2's one red driver row was this
    query's rounded raw double sum flipping a half-cent boundary
    under the driver's partitioning while passing local parity at every
    SF — the signature of order-dependent double accumulation."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    sessions = e.select("user_id", "ts", "value", "event_id").withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents()) / 100.0).alias("session_value"),
            ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / F.lit(1_000_000))
            .cast("long")
            .alias("duration_sec"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "gapfill_daily_interpolation",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, AVG(value) AS v
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
    obs AS (SELECT * FROM daily WHERE day(d) % 3 <> 0),
    span AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily
             GROUP BY event_type),
    spine AS (
        SELECT event_type,
               CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        FROM span),
    s AS (SELECT sp.event_type, sp.d, o.v
          FROM spine sp LEFT JOIN obs o
          ON sp.event_type = o.event_type AND sp.d = o.d),
    f AS (SELECT event_type, d, v,
            last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
          FROM s)
    SELECT event_type, d, (v IS NOT NULL) AS observed,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + ((nv - pv) * date_diff('day', pd, d))
                               / date_diff('day', pd, nd)
                      ELSE COALESCE(pv, nv) END, 4) AS filled
    FROM f ORDER BY event_type, d
    """,
)
def gapfill_daily_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill with linear interpolation — the hypertable
    resampling primitive (and the natural extension of the reference's
    daily weather rollup to missing days): build the full date spine per
    series, LOCF/NOCB at the edges, linearly interpolate interior gaps
    (here: every 3rd calendar day withheld to create deterministic gaps).
    Two windows per series (forward last-non-null, backward
    first-non-null) — one partition pass each, no self-join; the spine is
    sequence+explode, never a driver loop. At scale each series fills
    independently (partitionBy event_type)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.avg("value").alias("v"))
    obs = daily.filter(F.dayofmonth("d") % 3 != 0)
    span = daily.groupBy("event_type").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    s = spine.join(obs, ["event_type", "d"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v, d = F.col("v"), F.col("d")
    f = s.select(
        "event_type",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(F.when(v.isNotNull(), d), ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(F.when(v.isNotNull(), d), ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.col("pv") + (
        (F.col("nv") - F.col("pv")) * F.datediff(d, F.col("pd"))
    ) / F.datediff(F.col("nd"), F.col("pd"))
    filled = (
        F.when(v.isNotNull(), v)
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .otherwise(F.coalesce("pv", "nv"))
    )
    return f.select(
        "event_type",
        "d",
        v.isNotNull().alias("observed"),
        F.round(filled, 4).alias("filled"),
    ).orderBy("event_type", "d")


@register(
    "dau_wau_engagement",
    oracle="""
    WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                    FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT d, COUNT(*) AS dau FROM active GROUP BY d),
    contrib AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                    CAST(d + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        FROM active),
    wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY d)
    SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
           ROUND(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY dau.d
    """,
)
def dau_wau_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU (stickiness): sliding-window COUNT
    DISTINCT, which no window frame computes directly.

    Round-9 redesign (the r7 sf100 probe measured the explode-x7 +
    per-day COUNT DISTINCT form at exponent 1.24 — the per-day distinct
    hash state is 7x the activity relation): the sliding distinct is
    computed as INTERVAL STABBING instead. Per user, consecutive
    presence days gap <= 6 apart merge into coverage intervals
    [first, last+6] (one lag + one running-sum window over the
    day-deduped activity relation — linear, user-partitioned, the
    sessionize shuffle class); each interval emits (+1 at start, -1
    after end) deltas, and WAU(d) is the running sum of per-day deltas.
    Distinctness is structural (a user's merged intervals are disjoint,
    so each contributes at most 1 per day) — NO distinct aggregate
    state anywhere; post-aggregation state is O(distinct days),
    calendar-bounded, so the final running-sum window over days is a
    bounded single-partition pass by construction. The computation
    lives in operators/temporal.py daily_engagement — shared verbatim
    with the streaming profile sink (streaming/engagement.py), so the
    two grains cannot drift."""
    from ..operators.temporal import daily_engagement

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    active = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return daily_engagement(active).orderBy("d")


# ---------------------------------------------------------------------------
# Temporal joins Spark lacks natively (composition-based operators)
# ---------------------------------------------------------------------------
@register(
    "asof_join_clicks_views",
    oracle="""
    SELECT t.event_id AS click_id, t.user_id AS user_id,
           q.event_id AS view_id, q.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON t.user_id = q.user_id AND q.ts <= t.ts
    ORDER BY click_id
    """,
)
def asof_join_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click paired with the user's latest view
    at-or-before it (DuckDB's native ASOF JOIN is the oracle; ours is the
    union + window forward-fill composition in operators/temporal.py)."""
    from ..operators.temporal import asof_join_backward

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = asof_join_backward(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "value"], tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("asof_event_id").alias("view_id"),
        F.col("asof_value").alias("view_value"),
    ).orderBy("click_id")


@register(
    "interval_join_views_clicks",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS imp_id,
           c.event_id AS click_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
    ORDER BY user_id, imp_id, click_id
    """,
)
def interval_join_views_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream attribution join (streaming/joins.clicks_within)
    run in batch mode: every click within 5 minutes after a view by the
    same user (6 h window). Same operator object as the streaming path — watermarks are
    a no-op on batch frames — so the oracle checks the streaming join's
    condition logic exactly."""
    from ..streaming.joins import clicks_within

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("imp_id"), F.col("ts").alias("imp_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    out = clicks_within(
        views, clicks, key="user_id", imp_ts="imp_ts", click_ts="click_ts",
        within="6 hours",
    )
    return out.select("user_id", "imp_id", "click_id", "lag_us").orderBy(
        "user_id", "imp_id", "click_id"
    )


# ---------------------------------------------------------------------------
# Nearest as-of join — completes the temporal family (backward asof,
# interval, range): each click paired with the closest view either side,
# backward-inclusive / forward-exclusive, |gap| ties resolved backward —
# the convention DuckDB's `<=` / `>` ASOF pair states exactly.
# ---------------------------------------------------------------------------
@register(
    "asof_join_nearest_views",
    oracle="""
    SELECT t.event_id AS click_id, t.user_id AS user_id,
           CASE WHEN f.event_id IS NULL OR (b.event_id IS NOT NULL AND
                     epoch_us(t.ts) - epoch_us(b.ts)
                     <= epoch_us(f.ts) - epoch_us(t.ts))
                THEN b.event_id ELSE f.event_id END AS view_id,
           CASE WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
                WHEN f.event_id IS NULL OR (b.event_id IS NOT NULL AND
                     epoch_us(t.ts) - epoch_us(b.ts)
                     <= epoch_us(f.ts) - epoch_us(t.ts))
                THEN 'b' ELSE 'f' END AS direction,
           CASE WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
                WHEN f.event_id IS NULL OR (b.event_id IS NOT NULL AND
                     epoch_us(t.ts) - epoch_us(b.ts)
                     <= epoch_us(f.ts) - epoch_us(t.ts))
                THEN CAST(epoch_us(t.ts) - epoch_us(b.ts) AS BIGINT)
                ELSE CAST(epoch_us(f.ts) - epoch_us(t.ts) AS BIGINT)
                END AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
      ON t.user_id = b.user_id AND b.ts <= t.ts
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') f
      ON t.user_id = f.user_id AND f.ts > t.ts
    ORDER BY click_id
    """,
)
def asof_join_nearest_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-view attribution for every click (see
    operators.temporal.asof_join_nearest — one union + one window sort,
    two frames; never a range self-join)."""
    from ..operators.temporal import asof_join_nearest

    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join_nearest(
        clicks,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("asof_event_id").alias("view_id"),
        F.col("asof_direction").alias("direction"),
        F.col("asof_gap_us").alias("gap_us"),
    ).orderBy("click_id")


# ---------------------------------------------------------------------------
# Trailing-7-day per-user rolling feature — the RANGE-frame window shape
# feature engineering runs at scale: daily pre-aggregation first (the
# fact table collapses to user x day before any window), then one
# user-partitioned RANGE frame over the day number. Exact integer cents
# end to end.
# ---------------------------------------------------------------------------
@register(
    "rolling_7d_user_value",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, day,
           cents / 100.0 AS day_value,
           n_events,
           SUM(cents) OVER (
               PARTITION BY user_id
               ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) / 100.0 AS rolling_7d_value,
           CAST(SUM(n_events) OVER (
               PARTITION BY user_id
               ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_7d_events
    FROM daily ORDER BY user_id, day
    """,
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day): the day's total plus trailing-7-day rolling sums
    via a RANGE frame on the epoch-day number. Calendar-gap-correct
    (unlike a 7-ROW frame) and exact (integer cents under every sum)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(_cents()).alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("day_value"),
        "n_events",
        (F.sum("cents").over(w) / 100.0).alias("rolling_7d_value"),
        F.sum("n_events").over(w).alias("rolling_7d_events"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Event-type transition matrix — first-order Markov statistics over each
# user's event sequence: ONE user-partitioned window (lag) then one
# aggregate; probabilities are FLOOR'd ppm of exact transition counts.
# The sequence-modeling prep step (user-behavior chains) on the same
# partitioning the sessionizer uses.
# ---------------------------------------------------------------------------
@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    outdeg AS (
        SELECT from_type, SUM(n_trans) AS n_out FROM trans GROUP BY from_type
    )
    SELECT t.from_type AS from_type, t.to_type AS to_type, t.n_trans AS n_trans,
           CAST(FLOOR(t.n_trans * 1000000.0 / o.n_out) AS BIGINT) AS prob_ppm
    FROM trans t JOIN outdeg o ON o.from_type = t.from_type
    ORDER BY t.from_type, t.to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from, to, count, probability-ppm) over consecutive events per
    user. The lag window and the sessionizer share the (user_id; ts,
    event_id) sort, so at scale the two computations pipeline on one
    exchange."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    outdeg = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_out"))
    return (
        trans.join(F.broadcast(outdeg), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.floor(F.col("n_trans") * 1000000.0 / F.col("n_out"))
            .cast("long")
            .alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: every purchase credited to the user's latest
# click at-or-before it, voided when the gap exceeds the 7-day attribution
# window. Composes the as-of join operator (one union + one window over the
# user_id partitioning — no range self-join); the window gate is a post-hoc
# CASE, exactly how DuckDB's ASOF + CASE expresses it.
# ---------------------------------------------------------------------------
_ATTR_WINDOW_S = 7 * 24 * 3600


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
          WHERE event_type = 'click'),
    j AS (
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               c.click_id, epoch_us(p.ts) AS p_us, epoch_us(c.click_ts) AS c_us
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND c.click_ts <= p.ts
    )
    SELECT purchase_id, user_id,
           CASE WHEN c_us IS NOT NULL
                     AND (p_us - c_us) // 1000000 <= {_ATTR_WINDOW_S}
                THEN click_id END AS click_id,
           CASE WHEN c_us IS NOT NULL
                     AND (p_us - c_us) // 1000000 <= {_ATTR_WINDOW_S}
                THEN (p_us - c_us) // 1000000 END AS gap_s
    FROM j ORDER BY purchase_id
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    j = temporal.asof_join_backward(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_id", "click_ts"],
        tiebreak="click_id",
    )
    gap = F.expr("(unix_micros(ts) - unix_micros(asof_click_ts)) div 1000000")
    in_window = F.col("asof_click_ts").isNotNull() & (gap <= _ATTR_WINDOW_S)
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(in_window, F.col("asof_click_id")).alias("click_id"),
        F.when(in_window, gap).alias("gap_s"),
    ).orderBy("purchase_id")


# ---------------------------------------------------------------------------
# Linear multi-touch attribution: every click in the 7 days before a
# purchase shares the credit equally (FLOOR'd ppm so credit is integer-
# exact). Composes the bucketed range join (day-width time buckets; each
# click lands in one bucket, purchases explode across their window's
# buckets) — no unbounded time-range self-join ever forms.
# ---------------------------------------------------------------------------
@register(
    "attribution_linear_multi_touch",
    oracle=f"""
    WITH p AS (SELECT event_id AS purchase_id, user_id,
                      epoch_us(ts) AS p_us FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
          FROM events WHERE event_type = 'click'),
    touches AS (
        SELECT p.purchase_id, p.user_id, c.click_id
        FROM p JOIN c ON c.user_id = p.user_id
                     AND c.c_us >= p.p_us - {7 * 24 * 3600} * 1000000::BIGINT
                     AND c.c_us <= p.p_us
    )
    SELECT purchase_id,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(1000000 // COUNT(*) AS BIGINT) AS credit_ppm_each,
           CAST(MIN(click_id) AS BIGINT) AS first_click_id,
           CAST(MAX(click_id) AS BIGINT) AS last_click_id
    FROM touches GROUP BY purchase_id ORDER BY purchase_id
    """,
)
def attribution_linear_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1000000
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.expr("unix_micros(ts)").alias("p_us"),
    ).withColumn("lo", F.col("p_us") - 7 * day_us).withColumn("hi", F.col("p_us"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.expr("unix_micros(ts)").alias("c_us"),
    )
    joined = temporal.bucketed_range_join(
        p, c.withColumnRenamed("user_id", "c_user"), lo="lo", hi="hi", x="c_us",
        bucket_width=float(day_us),
    ).filter(F.col("user_id") == F.col("c_user"))
    return (
        joined.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.expr("1000000 div count(1)").alias("credit_ppm_each"),
            F.min("click_id").alias("first_click_id"),
            F.max("click_id").alias("last_click_id"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users by day (the "total accounts ever seen" curve):
# distinct-by-first-appearance turns an O(days × users) rolling-distinct
# into ONE per-user min + a window over the (tiny) per-day relation —
# the standard trick that makes lifetime-reach queries scale.
# ---------------------------------------------------------------------------
@register(
    "cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT d0 AS d, COUNT(*) AS n_new FROM first_seen GROUP BY d0
    )
    SELECT d, CAST(n_new AS BIGINT) AS n_new_users,
           CAST(SUM(n_new) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day ORDER BY d
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    per_day = first_seen.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d",
        F.col("n_new").cast("long").alias("n_new_users"),
        F.sum("n_new").over(w).cast("long").alias("cumulative_users"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary): classic user
# value-tiering — per user: days since last purchase, purchase count,
# exact cents total, quintile scores via NTILE with the (value, user_id)
# deterministic tiebreak, and the composite segment label. One user
# aggregate + three small windows over the per-user relation.
# ---------------------------------------------------------------------------
@register(
    "rfm_user_segments",
    oracle="""
    WITH p AS (
        SELECT user_id,
               CAST(DATE '2024-02-01' - MAX(CAST(ts AS DATE)) AS BIGINT)
                 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, recency_days, frequency, monetary_cents,
               NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
        FROM p
    )
    SELECT CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(datediff(DATE '2024-02-01', MAX(CAST(ts AS DATE))) AS BIGINT)").alias(
                "recency_days"
            ),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(_cents()).cast("long").alias("monetary_cents"),
        )
    )
    scored = p.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.col("user_id"))).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary_cents", "user_id")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
            F.min("user_id").cast("long").alias("sample_user"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# Top user-journey paths: each user-day's first three event types (by
# (ts, event_id) — the deterministic tiebreak every ordering in this repo
# uses) concatenated into a path string, rolled up to the most common
# journeys. The path-analysis complement of the strict funnel
# (funnel_view_click_purchase): the funnel asks "did V->C->P happen",
# paths ask "what DID happen". One (user, day)-partitioned window + one
# hash aggregate; top-20 via TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "journey_top_paths",
    oracle="""
    WITH r AS (
        SELECT user_id, CAST(ts AS DATE) AS d, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id, d,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id, d
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM paths GROUP BY path
    ORDER BY n_user_days DESC, path LIMIT 20
    """,
)
def journey_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    r = e.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    # ordered concat without an ordered string_agg: sort (rn, type)
    # structs per group, then join — JVM-side array lambdas
    # round 13: GetArrayStructFields (codegen) instead of a transform
    # lambda (interpreted eval) for the ordered projection
    path = F.array_join(
        F.array_sort(F.collect_list(F.struct("rn", "event_type"))).getField(
            "event_type"
        ),
        ">",
    )
    paths = r.groupBy("user_id", "d").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance, oracle-checked: the Spark side maintains
# a per-day (count, sum) rollup INCREMENTALLY — a base aggregate over
# the pre-cutoff events plus a change feed (post-cutoff rows as inserts,
# pre-cutoff error rows retracted as deletes) merged by
# operators.incremental.refresh_rollup — while the oracle computes the
# equivalent END STATE as one plain filtered aggregate. Any defect in
# the delta aggregation, signed merge, or vanishing-group rule makes the
# two diverge, so the driver's hash check covers the maintenance path
# itself. Sums are exact integer cents (value has 2 decimals), so no
# accumulation-order float exposure across the base/delta split.
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "2024-01-20 00:00:00"


@register(
    "incremental_rollup_equivalence",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE NOT (ts < TIMESTAMP '{_IVM_CUTOFF}' AND event_type = 'error')
    GROUP BY 1 ORDER BY 1
    """,
)
def incremental_rollup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incremental

    e = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_type",
        # exact integer cents carried as double (exact to 2^53) so the
        # shared sum/count machinery needs no type plumbing
        F.round(F.col("value") * 100).cast("double").alias("cents"),
    )
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    base = (
        e.filter(F.col("ts") < cutoff)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").alias("total_cents"),
        )
    )
    inserts = e.filter(F.col("ts") >= cutoff).select(
        "day", "cents", F.lit("insert").alias("_change_type")
    )
    retractions = e.filter(
        (F.col("ts") < cutoff) & (F.col("event_type") == "error")
    ).select("day", "cents", F.lit("delete").alias("_change_type"))
    feed = inserts.unionByName(retractions)
    out = incremental.refresh_rollup(
        base, feed, ["day"], "cents", sum_col="total_cents", count_col="n"
    )
    return out.select(
        "day", "n", F.col("total_cents").cast("long").alias("total_cents")
    ).orderBy("day")


# ---------------------------------------------------------------------------
# EWMA daily smoothing, exact in BIGINT.
#
# s_d = sum_{k<=d} cents_k * (1/2)^(d-k)  (unnormalized exponential decay,
# alpha = 1/2). Scaled by 2^29 every term is an integer:
#     ewma_num_d = 2^(29-d) * sum_{k<=d} cents_k * 2^k
# with day index d in [0, 29] (each type's first 30 days — the events
# table spans exactly 30 days by generator contract; the k <= 29 filter
# makes the bound explicit rather than assumed). Magnitudes: daily cents
# <= ~1e7 at sf0.1, prefix <= 2 * cents_max * 2^29 ~ 1e16 << 2^63, and
# 100x data only adds two decimal digits — headroom to ~9e18 documented.
# The prefix-sum trick turns the position-dependent weight into a plain
# running SUM the window engine partial-aggregates; no per-row
# re-expansion of the window frame.
# ---------------------------------------------------------------------------
@register(
    "ewma_daily_event_value",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, cents,
               DATEDIFF('day', MIN(day) OVER (PARTITION BY event_type), day)
                 AS k
        FROM daily
    ),
    win AS (SELECT * FROM idx WHERE k <= 29),
    pre AS (
        SELECT event_type, day, cents, k,
               CAST(SUM(cents * CAST(POW(2, k) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS p
        FROM win
    )
    SELECT event_type, day, cents,
           CAST(p * CAST(POW(2, 29 - k) AS BIGINT) AS BIGINT) AS ewma_num
    FROM pre ORDER BY event_type, day
    """,
)
def ewma_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily EWMA (alpha = 1/2) of event value, exact BIGINT —
    ewma_cents = ewma_num / 2^29. See the block comment for the dyadic
    scaling argument; the oracle is the literal same arithmetic."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    idx = daily.select(
        "event_type",
        "day",
        "cents",
        F.datediff(
            "day", F.min("day").over(Window.partitionBy("event_type"))
        ).alias("k"),
    ).filter(F.col("k") <= 29)
    p = (
        F.sum(F.col("cents") * F.pow(F.lit(2), F.col("k")).cast("long"))
        .over(
            Window.partitionBy("event_type")
            .orderBy("k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
    )
    pre = idx.select("event_type", "day", "cents", "k", p.alias("p"))
    return pre.select(
        "event_type",
        "day",
        "cents",
        (F.col("p") * F.pow(F.lit(2), F.lit(29) - F.col("k")).cast("long"))
        .cast("long")
        .alias("ewma_num"),
    ).orderBy("event_type", "day")


# streaming_engagement_sink_equiv makes the foreachBatch engagement sink
# (streaming/engagement.py) driver-visible. The sink itself is a non-SQL
# surface (stateful multi-commit table maintenance), but its OUTPUT — the
# converged per-day dau/wau/stickiness profile — is deterministic and
# SQL-expressible, so the entry carries the same DuckDB oracle as the
# batch-grain sibling ``dau_wau_engagement`` (round-11 VERDICT "Next
# round" #2): the union of the staged batches is the full events table,
# so the converged profile must equal the batch query's answer. The
# sink-vs-batch leg additionally stays ENFORCED at execution: every
# profile row is compared against the batch-grain answer computed by the
# same operators/temporal.daily_engagement over the identical presence
# relation, and a disagreement or a day present on only one side raises
# (raise_error), so the driver's row goes red on drift rather than
# hashing a frame of false verdicts (round-10 VERDICT "What's wrong" #1).


#: scratch root for the sink's txlog tables — under the repo (never the
#: shared /tmp of a multi-user box), gitignored, recreated per run
_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".scratch")


@register(
    "streaming_engagement_sink_equiv",
    # The converged profile equals the batch-grain DAU/WAU answer over
    # the full events table (the staged batches partition it), so the
    # oracle is dau_wau_engagement's SQL plus the all-true enforcement
    # column — the sink-vs-batch leg is separately raise_error-enforced
    # inside the frame, so a drifting sink errors rather than hashing.
    oracle="""
    WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                    FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT d, COUNT(*) AS dau FROM active GROUP BY d),
    contrib AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                    CAST(d + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        FROM active),
    wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY d)
    SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
           ROUND(dau.dau * 1.0 / wau.wau, 6) AS stickiness,
           TRUE AS agrees_with_batch
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY dau.d
    """,
)
def streaming_engagement_sink_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the incremental DAU/WAU engagement sink over a staged
    3-batch split of the events table against fresh txlog tables, then
    return the final profile with a per-day ``agrees_with_batch``
    verdict against the batch-grain computation over the same presence
    relation.

    Staging (round-12 redesign): batches are TIME TERCILES with
    deterministic late delivery — each row lands in the tercile of its
    day, except a fixed user-hash slice of the last 7 days of terciles
    0 and 1, which is withheld and delivered one batch LATE. That keeps
    the hard cases the old user-hash split exercised (late rows force
    replays of already-written profile days; boundary days are written
    by two batches and must converge) while making each batch's blast
    radius [min_d, max_d+6] span ~a third of the calendar instead of
    all of it: the r11 user-hash split gave every batch the full day
    range, so all three batches recomputed the whole profile — 3x the
    recompute and the top fixed cost in the suite (round-11 VERDICT
    "What's wrong" #1). Real streams arrive roughly time-ordered with a
    bounded late tail; the terciles model that honestly.

    The equivalence is structural, not luck, and split-independent: a
    day's profile row is last written by the last batch whose blast
    radius covers it, and no later batch can append a presence row
    affecting that day (a row at day p only affects [p, p+6], inside
    its own batch's radius) — so the last writer saw every relevant
    presence row.

    Scale: the sink's per-batch work is the anti-join of the batch's
    (user, day) pairs plus a day-scoped recompute — O(batch + affected
    slice), never O(table); the final comparison is one join on the
    O(distinct days) profile."""
    # The sink's unit of work is distinct (user, day) presence — dedupe
    # to that grain ONCE and persist it, instead of letting each of the
    # three staged batches re-scan the events parquet for every action
    # the sink runs (bounds agg + anti-join + recompute = ~6 scans).
    # ``ts`` stays the column name: to_date over an already-DATE column
    # is a pass-through, so the sink body is exercised unchanged.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("ts"))
    )
    # The sink loop is ~15 tiny eager actions (bounds agg + txlog write
    # + file-rewrite per batch) over bounded per-batch frames; with the
    # session's cluster-scale defaults each action fans into several AQE
    # stage-jobs of 32-partition shuffles, and the JOB overhead — not
    # the data — was the entry's measured cost (61 jobs, the suite's #1
    # fixed floor, round-11 VERDICT #1; 26 jobs / ~2.2x faster warm with
    # the scoped confs below). A real deployment sizes per-batch shuffle
    # width to batch volume in the stream conf exactly like this; scoped
    # + restored so the rest of the suite keeps the cluster defaults.
    # The tuned confs engage ONLY in the small-input regime (staged
    # events < 64 MB compressed), where the fixed floor is the whole
    # cost; at decade scale the data term dominates and Spark's
    # adaptive machinery earns its keep — the sf10 probe measured the
    # always-on variant SLOWER than session defaults (narrow static
    # shuffles + no AQE coalescing over 212 MB of events), exactly the
    # regime split a real deployment's per-stream conf encodes.
    #
    # Round-13 note on the in-suite/warm gap (r12 VERDICT #1): the
    # codegen-per-batch hypothesis (day-bound literals forcing fresh
    # whole-stage compile) was TESTED and came out backwards — routing
    # the bounds through 1-row broadcast relations made the generated
    # code batch-stable but the steady state ~2-3 s SLOWER (BNL joins
    # replace pushed literal filters; probe table in BASELINE.md
    # round-13). The floor that actually moved was per-batch JOB COUNT
    # and plan size: one merged survivors+replacement write per commit
    # (txlog replace_where/merge), rewrite candidates from commit-log
    # footer stats instead of an input_file_name scan job
    # (replace_range), the day-grain input contract (no per-batch
    # distinct shuffle), and single-file novelty deltas — measured
    # steady-state 10.5 -> ~7.9 s at sf0.1, quiet box.
    _bytes = sum(
        os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
        for f in ev.inputFiles()
    )
    if _bytes >= (64 << 20):
        # decade-scale path: session defaults AND the sink's own
        # per-batch distinct — the day-grain contract flag is gated
        # below with the other fixed-floor tools. The distinct is
        # semantically redundant here (the staged relation is already
        # (user, day)-deduped), but its shuffle is LOAD-BEARING at
        # scale: it pre-partitions the batch on the anti-join keys and
        # normalizes the cached batch layout, and the same-hour sf10
        # A/B measured the skip at ~2.4x the whole entry (56 s vs 23 s
        # batch loop; slice recompute 33.5 s vs 8.2 s — BASELINE.md
        # round-13). Fixed-floor savings belong to the small-input
        # regime only.
        return _staged_sink_run(spark, ev, day_grain=False)
    _scoped = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    _saved = {k: spark.conf.get(k) for k in _scoped}
    for _k, _v in _scoped.items():
        spark.conf.set(_k, _v)
    try:
        # novelty_files=1 shares the small-input gate: a tiny per-batch
        # delta wants to land as ONE file (skips the staged-write
        # compaction merge per commit); a decade-scale delta wants its
        # natural write parallelism
        return _staged_sink_run(spark, ev, novelty_files=1)
    finally:
        for _k, _v in _saved.items():
            spark.conf.set(_k, _v)


def _pid_alive(pid: str) -> bool:
    """Whether ``pid`` names a live process (a name from before the pid
    was recorded, or any other non-number, does not)."""
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by another user
    except (ValueError, OverflowError):
        return False
    return True


def _staged_sink_run(
    spark: SparkSession,
    ev: DataFrame,
    novelty_files: int | None = None,
    day_grain: bool = True,
) -> DataFrame:
    """Body of streaming_engagement_sink_equiv (runs under the scoped
    per-batch confs; the returned frame executes later under the
    caller-restored session defaults — it is one small join over the
    O(distinct days) profile, conf-insensitive)."""
    from ..operators.temporal import daily_engagement
    from ..sources.txlog import TxLogTable
    from ..streaming.engagement import engagement_sink

    # calendar bounds come straight off the raw scan (min/max are
    # distinct-invariant — no shuffle, aggregate pushdown applies)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo).days if lo is not None else 0
    c1 = F.lit(lo + dt.timedelta(days=span // 3)) if lo else F.lit(None)
    c2 = F.lit(lo + dt.timedelta(days=2 * span // 3)) if lo else F.lit(None)
    ts = F.col("ts")
    tercile = F.when(ts <= c1, 0).when(ts <= c2, 1).otherwise(2)
    # deterministic late slice: 1-in-7 users' rows from the last week of
    # a tercile arrive one batch late (capped at the final batch — every
    # row is delivered exactly once)
    late = F.pmod(F.xxhash64("user_id"), F.lit(7)) == 0
    shift = F.when(
        late
        & (
            ((tercile == 0) & (ts > F.date_sub(c1, 7)))
            | ((tercile == 1) & (ts > F.date_sub(c2, 7)))
        ),
        1,
    ).otherwise(0)
    e = (
        ev.distinct()
        .withColumn("_b", F.least(tercile + shift, F.lit(2)))
        .persist()
    )
    os.makedirs(_SCRATCH, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"engagement_sink_{os.getpid()}_", dir=_SCRATCH)
    # a run's tables outlive it (the returned frame reads them), so only
    # the scratch of processes that have exited is dead weight: keep the
    # directory bounded without touching another live process's tables
    for old in os.listdir(_SCRATCH):
        if old.startswith("engagement_sink_") and not _pid_alive(old.split("_")[2]):
            shutil.rmtree(os.path.join(_SCRATCH, old), ignore_errors=True)
    presence = TxLogTable(os.path.join(root, "presence"))
    profile = TxLogTable(os.path.join(root, "profile"))
    # day_grain_input: the staged relation is ev.distinct() over
    # (user_id, to_date(ts)) — already (user, day)-deduped, and the
    # terciles partition it, so each batch honors the sink's day-grain
    # contract and the per-batch distinct shuffle is DEDUP-redundant.
    # It is only skipped in the small-input regime (day_grain=True from
    # the gated caller): at decade scale the distinct's shuffle is
    # load-bearing for layout, not dedup — see the gate comment in
    # streaming_engagement_sink_equiv.
    sink = engagement_sink(
        presence,
        profile,
        "driver-equiv",
        day_grain_input=day_grain,
        novelty_files=novelty_files,
    )
    for i in range(3):
        sink(e.filter(F.col("_b") == i).drop("_b"), i)
    # everything below reads from the txlog tables the sink wrote, not
    # from the staged input — release it before building the result plan
    e.unpersist()

    def _read_or_empty(t: TxLogTable, ddl: str) -> DataFrame:
        # empty input: the sink never writes the profile, and
        # TxLogTable.read raises on a table with no commits
        if not t.exists():
            return store.rows(spark, [], ddl)
        return t.read(spark)

    prof = _read_or_empty(
        profile, "d date, dau bigint, wau bigint, stickiness double"
    )
    # The batch-grain leg is materialized HERE, inside the scoped
    # per-batch confs (its daily_engagement shuffles are the expensive
    # part of the comparison; the returned frame executes later under
    # the restored cluster defaults). Collecting it is bounded by
    # construction: daily_engagement's output is O(distinct active
    # days) — calendar-sized, never data-sized. The comparison itself
    # stays lazy in the returned frame, reading the profile TABLE the
    # sink wrote.
    batch_rows = (
        daily_engagement(
            _read_or_empty(presence, "user_id bigint, d date")
            .select("user_id", "d")
        )
        .select(
            "d",
            F.col("dau").alias("_bd"),
            F.col("wau").alias("_bw"),
            F.col("stickiness").alias("_bs"),
        )
        .collect()
    )
    b = store.rows(spark, batch_rows, "d date, _bd bigint, _bw bigint, _bs double")
    agrees = (
        F.col("dau").eqNullSafe(F.col("_bd"))
        & F.col("wau").eqNullSafe(F.col("_bw"))
        & F.col("stickiness").eqNullSafe(F.col("_bs"))
    )
    # The DuckDB oracle hash-checks the converged OUTPUT, but the
    # sink-vs-batch leg (did the incremental maintenance converge to the
    # batch recompute over the same presence relation?) is not visible
    # in the output values — a drifted sink could in principle disagree
    # with the batch leg while some compensating bug matches the oracle.
    # Enforce it at execution instead of reporting it: any disagreeing
    # day raises (CaseWhen evaluates branches lazily, so raise_error
    # fires only on drift), turning the driver's row into err. The
    # column stays in the schema — all-true on every surviving run — so
    # the row count and shape are unchanged (round-10 VERDICT #1).
    return (
        prof.join(b, "d", "full")
        .select(
            "d",
            "dau",
            "wau",
            "stickiness",
            F.when(agrees, F.lit(True))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "engagement sink drifted from the batch-grain "
                            "answer on day "
                        ),
                        F.col("d").cast("string"),
                    )
                )
            )
            .alias("agrees_with_batch"),
        )
        .orderBy("d")
    )
