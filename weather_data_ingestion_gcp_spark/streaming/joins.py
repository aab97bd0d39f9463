"""Stream-stream joins with watermark-bounded state (SURVEY.md §2.7
hardening; the reference correlates nothing across streams — its only
join-like construct is the static routing map, Load-gcs-to-bq/main.py:15-17
— but any at-scale event pipeline needs funnel/attribution joins).

Why the time bound matters at 100 TB/day: an unbounded stream-stream join
must keep EVERY past row in state forever. The interval condition plus
watermarks lets Spark expire state on both sides — state size becomes
O(traffic within the join window), independent of stream age. Both inputs
shuffle once on the join key; state lives in the state store co-partitioned
with the shuffle, so a 1000-executor cluster splits it evenly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_dim(stream_df: DataFrame, dim_df: DataFrame, key: str) -> DataFrame:
    """Stream-static enrichment: left-join each micro-batch against a static
    (or slowly-refreshed) dimension — the streaming form of the
    reference's routing-map lookup P9 (Load-gcs-to-bq/main.py:15-17,67).

    Unlike a stream-stream join this keeps NO state store: the static
    side is re-planned per micro-batch, and the broadcast hint keeps the
    join map-side, so the stream never shuffles and no watermark is
    needed. The dimension must fit the broadcast threshold — exactly the
    contract of the reference's in-memory FILE_TABLE_MAP. Mode-agnostic:
    the same call on batch frames returns the identical rows."""
    return stream_df.join(F.broadcast(dim_df), key, "left")


def clicks_within(
    impressions: DataFrame,
    clicks: DataFrame,
    key: str = "ad_id",
    imp_ts: str = "imp_ts",
    click_ts: str = "click_ts",
    within: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Attribute each click to the impression it followed: equi-join on
    ``key`` with ``imp_ts <= click_ts <= imp_ts + within``.

    The per-stream watermark delays (how late each side may arrive) are
    20 minutes for impressions and 30 for clicks. Spark derives the state-expiry horizon from
    BOTH watermarks plus the interval, so neither side's state grows
    unboundedly. Works identically on batch DataFrames (the interval join
    becomes a range-refined sort-merge join).

    ``how="left_outer"`` yields UNCLICKED impressions too (null click
    columns) — the conversion-funnel denominator. Outer rows can only emit
    once the watermark proves no matching click can still arrive (the
    impression's join window has fully expired), so they trail the inner
    results by up to ``within`` plus the click delay of event time; the same
    interval condition is what makes the outer join legal on two streams
    at all (an unbounded outer would wait forever).
    """
    imp = impressions.withWatermark(imp_ts, "20 minutes")
    clk = clicks.withWatermark(click_ts, "30 minutes")
    cond = (
        (imp[key] == clk[key])
        & (clk[click_ts] >= imp[imp_ts])
        & (clk[click_ts] <= imp[imp_ts] + F.expr(f"INTERVAL {within}"))
    )
    # keep every column of both sides (the key once), payloads included
    keep_clk = [c for c in clk.columns if c != key]
    return imp.join(clk, cond, how).select(
        *[imp[c] for c in imp.columns],
        *[clk[c] for c in keep_clk],
        (F.unix_micros(clk[click_ts]) - F.unix_micros(imp[imp_ts])).alias("lag_us"),
    )
