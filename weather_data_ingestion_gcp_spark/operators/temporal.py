"""Temporal join operators Spark lacks as built-ins: as-of join and
bucketed range join — implemented as compositions of existing DataFrame
ops (SURVEY.md custom-operator guidance: composition first, Pandas UDF
only if semantics demand it; they don't here).

**As-of join** (backward, inclusive): for each left row, the most recent
right row with ``right_ts <= left_ts`` per key. Implementation: tag both
sides, union, one window pass per key ordered by (ts, side) forward-filling
the last right-row payload. Cost: ONE shuffle of left+right on the key —
the same lower bound a native as-of join would have. No range explosion,
no per-row Python.

**Bucketed range join**: interval-point matching (``lo <= x <= hi``)
without the O(n*m) nested loop a naive inequality join plans: intervals
explode to the fixed-width buckets they overlap, points map to their one
bucket, the match is an equi-join on bucket + an exact refine predicate.
Bucket width trades explode factor vs candidate density; at 100 TB both
sides shuffle-partition by bucket, which AQE sizes at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: every left row + the latest right row at-or-before
    its timestamp (null payload when none). ``tiebreak`` names a right
    payload column ordering equal-ts right rows (last one wins)."""
    payload_t = right.select(*right_payload).schema
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(payload_t).alias("_p"),
    )
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(left.schema).alias("_l"),
        F.struct(*right_payload).alias("_p"),
    )
    # (_ts, _side) puts right rows BEFORE left rows at equal ts ->
    # inclusive backward semantics; the tiebreak keeps equal-ts right rows
    # deterministic (nulls — i.e. left rows — sort last at the same ts)
    order = [F.col("_ts"), F.col("_side")]
    if tiebreak:
        order.insert(1, F.col("_p").getField(tiebreak).asc_nulls_last())
    w = Window.partitionBy("_k").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    filled = l.unionByName(r).withColumn("_match", F.last("_p", ignorenulls=True).over(w))
    out = filled.filter(F.col("_side") == 1)
    cols = [F.col("_l").getField(c).alias(c) for c in left.columns]
    cols += [F.col("_match").getField(c).alias(f"asof_{c}") for c in right_payload]
    return out.select(*cols)


def bucketed_range_join(
    intervals: DataFrame,
    points: DataFrame,
    lo: str,
    hi: str,
    x: str,
    bucket_width: float,
) -> DataFrame:
    """All (interval, point) pairs with lo <= x <= hi, via bucket equi-join
    + exact refine. Each point lives in exactly one bucket, so no dedup
    pass is needed."""
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / bucket_width).cast("long"),
                F.floor(F.col(hi) / bucket_width).cast("long"),
            )
        ),
    )
    pt = points.withColumn("_bucket", F.floor(F.col(x) / bucket_width).cast("long"))
    return (
        iv.join(pt, "_bucket")
        .filter((F.col(x) >= F.col(lo)) & (F.col(x) <= F.col(hi)))
        .drop("_bucket")
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Nearest as-of join: every left row + the right row closest in time,
    looking BACKWARD-INCLUSIVE (right.ts <= left.ts) and
    FORWARD-EXCLUSIVE (right.ts > left.ts), ties in |gap| resolved
    backward. The convention matches DuckDB's `<=` / `>` ASOF pair
    exactly, so the composition is oracle-checkable.

    Same single-sort shape as :func:`asof_join_backward`: one union, one
    (key, ts) window ordering, and TWO frames over it — last-non-null
    preceding for the backward match, first-non-null strictly-following
    for the forward match (right rows sort before left at equal ts, so
    the following frame excludes them — the forward-exclusive rule).
    Output adds ``asof_direction`` ('b'/'f') and ``asof_gap_us``.
    """
    payload_cols = list(dict.fromkeys(right_payload + [right_ts]))
    payload_t = right.select(*payload_cols).schema
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(payload_t).alias("_p"),
    )
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(left.schema).alias("_l"),
        F.struct(*payload_cols).alias("_p"),
    )
    order = [F.col("_ts"), F.col("_side")]
    if tiebreak:
        order.insert(1, F.col("_p").getField(tiebreak).asc_nulls_last())
    w = Window.partitionBy("_k").orderBy(*order)
    wb = w.rowsBetween(Window.unboundedPreceding, 0)
    wf = w.rowsBetween(1, Window.unboundedFollowing)
    filled = (
        l.unionByName(r)
        .withColumn("_mb", F.last("_p", ignorenulls=True).over(wb))
        .withColumn("_mf", F.first("_p", ignorenulls=True).over(wf))
        .filter(F.col("_side") == 1)
    )
    us = F.unix_micros
    gap_b = us(F.col("_ts")) - us(F.col("_mb").getField(right_ts))
    gap_f = us(F.col("_mf").getField(right_ts)) - us(F.col("_ts"))
    pick_b = F.col("_mf").isNull() | (
        F.col("_mb").isNotNull() & (gap_b <= gap_f)
    )
    chosen = F.when(pick_b, F.col("_mb")).otherwise(F.col("_mf"))
    cols = [F.col("_l").getField(c).alias(c) for c in left.columns]
    cols += [chosen.getField(c).alias(f"asof_{c}") for c in right_payload]
    cols += [
        F.when(chosen.isNull(), F.lit(None).cast("string"))
        .when(pick_b, F.lit("b"))
        .otherwise(F.lit("f"))
        .alias("asof_direction"),
        F.when(chosen.isNull(), F.lit(None).cast("long"))
        .when(pick_b, gap_b)
        .otherwise(gap_f)
        .cast("long")
        .alias("asof_gap_us"),
    ]
    return filled.select(*cols)


def daily_engagement(active: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU / trailing-``window_days`` active users per day from a
    day-deduped (user_id, d) activity relation — the sliding COUNT
    DISTINCT computed as INTERVAL STABBING (round-9 redesign; the
    explode-xW + per-day COUNT DISTINCT form carried W-times-activity
    distinct hash state and measured exponent 1.24 at the sf100 probe).

    Per user, presence days <= W-1 apart merge into coverage intervals
    [first, last + W-1] (one lag + one running-sum window — linear,
    user-partitioned); each interval emits (+1 at start, -1 after end)
    and WAU(d) is the running sum of per-day deltas. Distinctness is
    structural — a user's merged intervals are disjoint, so each
    contributes at most 1 to any day — and post-aggregation state is
    O(distinct days), calendar-bounded, so the final running-sum window
    is a bounded single-partition pass by construction.

    Output: (d, dau, wau, stickiness) for ACTIVE days only (dau >= 1),
    matching the declarative sliding-distinct definition exactly. A NULL
    day is on no calendar day, so its rows are dropped (kept, they would
    form a NULL-day group with wau 0 and divide by zero).
    Shared by the batch query (plans/streaming_events.py dau_wau_engagement) and
    the streaming profile sink (streaming/engagement.py) so the two
    grains cannot drift."""
    span = window_days - 1
    active = active.filter(F.col("d").isNotNull())
    dau = active.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wu = Window.partitionBy("user_id").orderBy("d")
    prev = F.lag("d").over(wu)
    new_iv = F.when(
        prev.isNull() | (F.datediff(F.col("d"), prev) > span), 1
    ).otherwise(0)
    iv = (
        active.select("user_id", "d", new_iv.alias("_niv"))
        .select("user_id", "d", F.sum("_niv").over(wu).alias("_g"))
        .groupBy("user_id", "_g")
        .agg(F.min("d").alias("_s"), F.date_add(F.max("d"), span).alias("_e"))
    )
    deltas = iv.select(
        F.col("_s").alias("d"), F.lit(1).cast("long").alias("_dl")
    ).unionAll(
        iv.select(F.date_add("_e", 1).alias("d"), F.lit(-1).cast("long"))
    )
    day_dl = deltas.groupBy("d").agg(F.sum("_dl").alias("_dl"))
    # full join: every delta day must enter the running sum, active or
    # not; the relation here is O(distinct days), calendar-bounded
    wd = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = dau.join(day_dl, "d", "full").select(
        "d", "dau", F.sum(F.coalesce("_dl", F.lit(0))).over(wd).alias("wau")
    )
    return merged.filter(F.col("dau").isNotNull()).select(
        "d", "dau", F.col("wau").cast("long").alias("wau"),
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )
