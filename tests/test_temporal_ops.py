"""Unit tests for the composition-based temporal joins (as-of, range)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators.temporal import (
    asof_join_backward,
    bucketed_range_join,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01 10:00:00")),
            (2, "A", _ts("2024-01-01 10:05:00")),
            (3, "A", _ts("2024-01-01 09:00:00")),  # before any quote -> null
            (4, "B", _ts("2024-01-01 10:00:00")),  # equal ts -> inclusive
        ],
        "trade_id bigint, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            (10, "A", _ts("2024-01-01 09:59:00"), 100.0),
            (11, "A", _ts("2024-01-01 10:04:00"), 101.0),
            (12, "A", _ts("2024-01-01 10:06:00"), 999.0),  # after: never matched
            (13, "B", _ts("2024-01-01 10:00:00"), 55.0),
        ],
        "quote_id bigint, sym string, ts timestamp, px double",
    )
    out = {
        r.trade_id: (r.asof_quote_id, r.asof_px)
        for r in asof_join_backward(
            trades, quotes, key="sym", left_ts="ts", right_ts="ts",
            right_payload=["quote_id", "px"], tiebreak="quote_id",
        ).collect()
    }
    assert out[1] == (10, 100.0)  # latest at-or-before 10:00
    assert out[2] == (11, 101.0)  # skips ahead-of-time quote
    assert out[3] == (None, None)  # nothing before
    assert out[4] == (13, 55.0)  # equal timestamp is inclusive


def test_range_join_boundaries(spark):
    intervals = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 19.5, 35.0)], "iv_id bigint, lo double, hi double"
    )
    points = spark.createDataFrame(
        [(100, 10.0), (101, 20.0), (102, 25.0), (103, 9.99), (104, 35.01)],
        "pt_id bigint, x double",
    )
    got = sorted(
        (r.iv_id, r.pt_id)
        for r in bucketed_range_join(
            intervals, points, lo="lo", hi="hi", x="x", bucket_width=7.0
        ).collect()
    )
    # inclusive bounds on both ends; outside-by-epsilon points excluded;
    # overlapping intervals each match their own points
    assert got == [(1, 100), (1, 101), (2, 101), (2, 102)]


def test_asof_nearest_directions_and_ties(spark):
    """Nearest as-of: backward-inclusive, forward-exclusive, |gap| ties
    resolved backward."""
    from weather_data_ingestion_gcp_spark.operators.temporal import asof_join_nearest

    L = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:10"),  # equidistant: back 10:00:00, fwd 10:00:20
            (2, 1, "2024-01-01 10:00:00"),  # equal-ts right -> backward, gap 0
            (3, 2, "2024-01-01 09:00:00"),  # only forward exists
            (4, 3, "2024-01-01 09:00:00"),  # no right rows at all
        ],
        "lid bigint, k bigint, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    R = spark.createDataFrame(
        [
            (100, 1, "2024-01-01 10:00:00"),
            (101, 1, "2024-01-01 10:00:20"),
            (200, 2, "2024-01-01 09:05:00"),
        ],
        "rid bigint, k bigint, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r.lid: r
        for r in asof_join_nearest(
            L, R, key="k", left_ts="ts", right_ts="ts",
            right_payload=["rid"], tiebreak="rid",
        ).collect()
    }
    assert (out[1].asof_rid, out[1].asof_direction, out[1].asof_gap_us) == (100, "b", 10_000_000)
    assert (out[2].asof_rid, out[2].asof_direction, out[2].asof_gap_us) == (100, "b", 0)
    assert (out[3].asof_rid, out[3].asof_direction, out[3].asof_gap_us) == (200, "f", 300_000_000)
    assert out[4].asof_rid is None and out[4].asof_direction is None


def test_dau_wau_interval_stabbing_matches_brute_force(spark, tmp_path):
    """Round-9 redesign pin: the interval-stabbing WAU (per-user merged
    coverage intervals + day-delta prefix sums — no distinct aggregate
    state) must equal the sliding 7-day distinct count from the
    definition, on data built to hit the merge boundaries: a gap of
    EXACTLY 7 days (two disjoint-but-adjacent intervals), a gap of 6
    (one merged interval), an isolated day, and two users overlapping
    the same day."""
    from weather_data_ingestion_gcp_spark.plans import QUERIES

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(day: int) -> dt.datetime:
        return base + dt.timedelta(days=day)

    presence = {  # user -> active day offsets
        1: [0, 7],        # gap 7: [0,6] and [7,13] — adjacent, disjoint
        2: [0, 6],        # gap 6: one merged interval [0,12]
        3: [19],          # isolated
        4: [5, 7, 20],    # merge then restart
    }
    rows = []
    eid = 0
    for u, days in presence.items():
        for d in days:
            rows.append((eid, ts(d), u, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")

    got = {
        r.d: (r.dau, r.wau)
        for r in QUERIES["dau_wau_engagement"](spark, str(tmp_path)).collect()
    }

    active_days = sorted({d for days in presence.values() for d in days})
    want = {}
    for d in active_days:
        dau = sum(1 for days in presence.values() if d in days)
        wau = sum(
            1
            for days in presence.values()
            if any(d - 6 <= p <= d for p in days)
        )
        want[(base + dt.timedelta(days=d)).date()] = (dau, wau)
    assert got == want
