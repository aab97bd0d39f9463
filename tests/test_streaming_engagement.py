"""Streaming engagement profile (streaming/engagement.py): the
incremental DAU/WAU sink must converge to the batch query's answer
after every micro-batch, across late arrivals, crash replays, and a
crash landing between the presence append and the profile refresh."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.sources.txlog import TxLogTable
from weather_data_ingestion_gcp_spark.streaming.engagement import engagement_sink

_SCHEMA = "event_id long, user_id long, ts timestamp"
_BASE = dt.datetime(2024, 1, 1, 12, 0, 0)


def _land(landing: str, name: str, rows: list[tuple[int, int, int]]) -> None:
    """rows: (event_id, user_id, day_offset)."""
    os.makedirs(landing, exist_ok=True)
    tmp = os.path.join(landing, name + ".tmp")
    with open(tmp, "w") as f:
        for eid, u, day in rows:
            ts = (_BASE + dt.timedelta(days=day)).strftime("%Y-%m-%d %H:%M:%S")
            f.write('{"event_id": %d, "user_id": %d, "ts": "%s"}\n' % (eid, u, ts))
    os.rename(tmp, os.path.join(landing, name))


def _run_stream(spark, landing: str, ckpt: str, sink) -> None:
    q = (
        spark.readStream.schema(_SCHEMA)
        .json(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _brute_force(presence: dict[int, set[int]]) -> dict[dt.date, tuple[int, int]]:
    """presence: user -> set of day offsets. Returns d -> (dau, wau)."""
    days = sorted({d for ds in presence.values() for d in ds})
    out = {}
    for d in days:
        dau = sum(1 for ds in presence.values() if d in ds)
        wau = sum(
            1 for ds in presence.values() if any(d - 6 <= p <= d for p in ds)
        )
        out[(_BASE + dt.timedelta(days=d)).date()] = (dau, wau)
    return out


def _profile_rows(spark, profile: TxLogTable) -> dict:
    try:
        return {
            r.d: (r.dau, r.wau) for r in profile.read(spark).collect()
        }
    except FileNotFoundError:  # table exists but all rows deleted
        return {}


def test_streaming_engagement_converges_and_replays(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    presence = TxLogTable(str(tmp_path / "presence"))
    profile = TxLogTable(str(tmp_path / "profile"))
    sink = engagement_sink(presence, profile, "engage-test")

    # batch 0: boundary shapes — gap exactly 7 (user 1), gap 6 (user 2),
    # duplicate events on one day (user 3)
    _land(landing, "a.json", [
        (0, 1, 0), (1, 1, 7),
        (2, 2, 0), (3, 2, 6),
        (4, 3, 2), (5, 3, 2),
    ])
    _run_stream(spark, landing, ckpt, sink)
    seen = {1: {0, 7}, 2: {0, 6}, 3: {2}}
    assert _profile_rows(spark, profile) == _brute_force(seen)
    # presence is day-deduped: user 3's duplicate landed once
    assert presence.read(spark).count() == 5

    # batch 1: LATE arrival for an old day (user 4 on day 1 — changes
    # WAU for days 1..7, which were already written) + a new day
    _land(landing, "b.json", [(6, 4, 1), (7, 1, 9)])
    _run_stream(spark, landing, ckpt, sink)
    seen = {1: {0, 7, 9}, 2: {0, 6}, 3: {2}, 4: {1}}
    assert _profile_rows(spark, profile) == _brute_force(seen)

    # crash replay of batch 1: same batch_id -> txn no-op on presence,
    # value-idempotent recompute on profile
    replay = spark.createDataFrame(
        [(6, 4, _BASE + dt.timedelta(days=1)), (7, 1, _BASE + dt.timedelta(days=9))],
        _SCHEMA,
    )
    sink(replay, 1)
    assert presence.read(spark).count() == 7  # txn no-op: nothing re-landed
    assert _profile_rows(spark, profile) == _brute_force(seen)

    # crash BETWEEN presence append and profile refresh: wipe the
    # profile days the batch touched, then replay — the batch-bounds
    # rule (not novelty-bounds) must self-heal the profile
    profile.delete_where(spark, "d >= DATE'2024-01-01'")
    assert _profile_rows(spark, profile) == {}
    sink(replay, 1)
    healed = _profile_rows(spark, profile)
    want = _brute_force(seen)
    # the replayed batch refreshes days [min_d, max_d+6] = [1, 15]; day 0
    # is outside its blast radius and legitimately stays missing here
    assert healed == {
        d: v for d, v in want.items() if d >= dt.date(2024, 1, 2)
    }


def test_streaming_engagement_matches_batch_operator(spark, tmp_path):
    """End-state cross-check: after several batches, the profile table
    equals operators/temporal.daily_engagement over the full presence
    relation — the same helper the batch query uses."""
    from weather_data_ingestion_gcp_spark.operators.temporal import (
        daily_engagement,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    presence = TxLogTable(str(tmp_path / "presence"))
    profile = TxLogTable(str(tmp_path / "profile"))
    sink = engagement_sink(presence, profile, "engage-xcheck")

    rows, eid = [], 0
    for u in range(1, 8):
        for day in range((u * 3) % 5, 12, u):
            rows.append((eid, u, day))
            eid += 1
    _land(landing, "a.json", rows[: len(rows) // 2])
    _run_stream(spark, landing, ckpt, sink)
    _land(landing, "b.json", rows[len(rows) // 2:])
    _run_stream(spark, landing, ckpt, sink)

    got = {
        (r.d, r.dau, r.wau, r.stickiness)
        for r in profile.read(spark).collect()
    }
    want = {
        (r.d, r.dau, r.wau, r.stickiness)
        for r in daily_engagement(
            presence.read(spark).select("user_id", "d")
        ).collect()
    }
    assert got == want


def test_streaming_engagement_survives_fully_deleted_presence(spark, tmp_path):
    """Regression (round-9 advice): a presence table with COMMITS but an
    empty active file set (retention delete_where removed every row) must
    read as empty, not crash — at both hazard sites: the anti-join read
    before the append, and the slice read after a txn-no-op replay
    (where the replayed append lands nothing, so the table STAYS empty
    into the recompute)."""
    presence = TxLogTable(str(tmp_path / "presence"))
    profile = TxLogTable(str(tmp_path / "profile"))
    sink = engagement_sink(presence, profile, "engage-empty")

    b0 = spark.createDataFrame(
        [(0, 1, _BASE), (1, 2, _BASE + dt.timedelta(days=1))], _SCHEMA
    )
    sink(b0, 0)
    assert presence.read(spark).count() == 2

    # retention wipes the table: commits remain, zero active files
    presence.delete_where(spark, "d >= DATE'2024-01-01'")
    assert presence.exists() and not presence.active_files()

    # hazard 2 first: REPLAY batch 0 — the txn key makes the append a
    # no-op, so the slice recompute reads the still-empty table; the
    # table's truth is "no presence", so the range must come back empty
    sink(b0, 0)
    assert presence.exists() and not presence.active_files()
    assert _profile_rows(spark, profile) == {}

    # hazard 1: a NEW batch anti-joins against the empty table, lands its
    # rows, and the recompute sees exactly those rows
    b1 = spark.createDataFrame([(2, 3, _BASE + dt.timedelta(days=2))], _SCHEMA)
    sink(b1, 1)
    assert presence.read(spark).count() == 1
    assert _profile_rows(spark, profile) == _brute_force({3: {2}})


def test_sink_equiv_entry_fails_loudly_on_drift(spark, monkeypatch):
    """The driver records only rows>0 for the oracle-less
    streaming_engagement_sink_equiv entry, so its equivalence verdict
    must be ENFORCED, not reported: a sink that drifted from the batch
    answer has to raise at execution (turning the driver row into err),
    never return a green frame of false verdicts (round-10 VERDICT
    "What's wrong" #1). Fault injection: skew the batch-grain helper the
    entry compares against by +1 DAU — the clean run must pass with
    every verdict true, the skewed run must raise."""
    import pytest

    from weather_data_ingestion_gcp_spark.operators import temporal
    from weather_data_ingestion_gcp_spark.plans import QUERIES

    entry = QUERIES["streaming_engagement_sink_equiv"]
    rows = entry(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.agrees_with_batch for r in rows)

    real = temporal.daily_engagement

    def skewed(presence):
        return real(presence).withColumn("dau", F.col("dau") + F.lit(1))

    monkeypatch.setattr(temporal, "daily_engagement", skewed)
    with pytest.raises(Exception, match="drifted from the batch-grain"):
        entry(spark, "/root/testdata/sf0.001").collect()


def test_replay_with_concurrent_commit_does_not_resurrect(spark, tmp_path):
    """ADVICE r12: the sink used to infer "my append committed" from a
    version DELTA — so on a txn-skipped replay, ANY concurrent commit
    landing between the sink's version() read and its append (here: a
    content-neutral checkpoint standing in for a racing retention job)
    made committed read True, unioning the batch's novel rows — rows a
    retention delete had already removed — back into the recompute
    slice. TxLogTable.append_once reports the skipped replay as not
    committed whatever else committed meanwhile, so the replay sees the
    table's real truth: empty."""
    presence = TxLogTable(str(tmp_path / "presence"))
    profile = TxLogTable(str(tmp_path / "profile"))
    sink = engagement_sink(presence, profile, "engage-race")

    b0 = spark.createDataFrame(
        [(0, 1, _BASE), (1, 2, _BASE + dt.timedelta(days=1))], _SCHEMA
    )
    sink(b0, 0)
    assert _profile_rows(spark, profile) == _brute_force({1: {0}, 2: {1}})

    # retention wipes presence (commits remain, zero active files)
    presence.delete_where(spark, "d >= DATE'2024-01-01'")
    assert presence.exists() and not presence.active_files()

    # interleave a concurrent commit INSIDE the replayed batch, between
    # whatever the sink reads and its (txn-skipped) append — the window
    # the delta-based check raced
    real_append = presence.append

    def racing_append(df, txn=None):
        presence.checkpoint()  # concurrent writer lands a version
        return real_append(df, txn=txn)

    presence.append = racing_append
    try:
        sink(b0, 0)  # replay: txn (engage-race, 0) already committed
    finally:
        del presence.append

    # table truth is "no presence" — the replayed batch must not
    # resurrect the deleted rows into the profile
    assert presence.exists() and not presence.active_files()
    assert _profile_rows(spark, profile) == {}


def test_sink_entry_gates_fixed_floor_tools_to_small_inputs(spark, monkeypatch):
    """The distinct-skip (day_grain_input), the single-file novelty
    hint and the scoped narrow-shuffle confs are all FIXED-FLOOR tools:
    the same-hour sf10 A/B measured the distinct-skip at ~2.4x the
    whole batch loop (the distinct's shuffle pre-partitions the batch
    for the anti-join and normalizes the cached layout — BASELINE.md
    round-13), so the entry must disengage every one of them on the
    >= 64 MB path and engage all of them below it."""
    import weather_data_ingestion_gcp_spark.plans.streaming_events as r10

    calls = []

    def fake_run(spark_, ev, novelty_files=None, day_grain=True):
        calls.append({
            "novelty_files": novelty_files,
            "day_grain": day_grain,
            "aqe": spark_.conf.get("spark.sql.adaptive.enabled"),
        })
        return spark_.range(1)

    monkeypatch.setattr(r10, "_staged_sink_run", fake_run)
    r10.streaming_engagement_sink_equiv(spark, "/root/testdata/sf0.001")
    monkeypatch.setattr(r10.os.path, "getsize", lambda p: 65 << 20)
    r10.streaming_engagement_sink_equiv(spark, "/root/testdata/sf0.001")
    small, big = calls
    assert small == {"novelty_files": 1, "day_grain": True, "aqe": "false"}
    assert big == {"novelty_files": None, "day_grain": False, "aqe": "true"}


def test_sink_entry_big_input_path_matches_small_path(spark, monkeypatch):
    """The >= 64 MB path (session-default confs, sink-side distinct, no
    novelty sizing) is the one the decade probes exercise — give it
    CORRECTNESS coverage too: forced onto sf0.001 via a faked file
    size, it must produce exactly the small path's converged profile,
    with the raise_error equivalence guard live on both."""
    import weather_data_ingestion_gcp_spark.plans.streaming_events as r10

    entry = r10.streaming_engagement_sink_equiv
    small = {r.d: r for r in entry(spark, "/root/testdata/sf0.001").collect()}
    monkeypatch.setattr(r10.os.path, "getsize", lambda p: 65 << 20)
    big = {r.d: r for r in entry(spark, "/root/testdata/sf0.001").collect()}
    assert set(small) == set(big) and len(big) > 0
    for d, s in small.items():
        b = big[d]
        assert (s.dau, s.wau, s.stickiness) == (b.dau, b.wau, b.stickiness)
        assert s.agrees_with_batch and b.agrees_with_batch


def test_sink_batch_replays_each_log_at_most_twice(spark, tmp_path, monkeypatch):
    """Per batch, the sink replays the presence log for its read and its
    append and the profile log once for its replace_range — not once per
    helper call."""
    presence = TxLogTable(str(tmp_path / "presence"))
    profile = TxLogTable(str(tmp_path / "profile"))
    sink = engagement_sink(presence, profile, "engage-reads")
    reads = {presence.root: 0, profile.root: 0}
    orig = TxLogTable._read_commit

    def counting(self, v):
        reads[self.root] += 1
        return orig(self, v)

    monkeypatch.setattr(TxLogTable, "_read_commit", counting)
    for b in range(8):
        reads.update({presence.root: 0, profile.root: 0})
        ts = _BASE + dt.timedelta(days=b)
        sink(
            spark.createDataFrame(
                [(b * 10 + u, u, ts) for u in range(3)], _SCHEMA
            ),
            b,
        )
    assert presence.version() == 7 and profile.version() == 7
    assert reads[presence.root] <= 17
    assert reads[profile.root] <= 8


def test_null_ts_rows_do_not_reland_across_batches(spark, tmp_path):
    """A NULL ts is presence on no calendar day: the sink drops it before
    the novelty anti-join, so three batches of the same rows leave the
    one real (user, day) row — a plain anti-join re-landed every NULL-day
    row in every batch (7 rows)."""
    presence = TxLogTable(str(tmp_path / "presence"))
    profile = TxLogTable(str(tmp_path / "profile"))
    sink = engagement_sink(presence, profile, "engage-null-ts")
    rows = [(0, 1, _BASE), (1, 1, None), (2, 2, None)]
    for b in range(3):
        sink(spark.createDataFrame(rows, _SCHEMA), b)
    assert [tuple(r) for r in presence.read(spark).collect()] == [
        (1, _BASE.date())
    ]
    assert _profile_rows(spark, profile) == _brute_force({1: {0}})


def test_dau_wau_engagement_matches_oracle_with_a_null_ts(spark, tmp_path):
    """dau_wau_engagement on an events table holding one NULL-ts event
    gives the oracle's rows: the NULL day is on no calendar day (it used
    to reach the stickiness division with wau 0 and raise
    DIVIDE_BY_ZERO)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.parity import rowset
    from weather_data_ingestion_gcp_spark.plans import ORACLE, QUERIES

    events = pq.read_table("/root/testdata/sf0.001/events.parquet")
    null_ts = events.slice(0, 1).set_column(
        events.schema.get_field_index("ts"),
        "ts",
        pa.nulls(1, events.schema.field("ts").type),
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.concat_tables([events, null_ts]), path)

    sdf = QUERIES["dau_wau_engagement"](spark, str(tmp_path))
    got = rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    rel = con.execute(ORACLE["dau_wau_engagement"])
    want = rowset([d[0] for d in rel.description], rel.fetchall())
    assert got == want and len(got[1]) > 0


def test_sink_entry_keeps_a_live_process_scratch(spark, tmp_path, monkeypatch):
    """The sink entry's scratch cleanup removes only directories whose
    process has exited: a sibling directory of this (live) process, whose
    tables a returned frame may still read, survives a run of the entry."""
    import subprocess

    import weather_data_ingestion_gcp_spark.plans.streaming_events as r10

    monkeypatch.setattr(r10, "_SCRATCH", str(tmp_path))
    exited = subprocess.Popen(["true"])
    exited.wait()
    live = tmp_path / f"engagement_sink_{os.getpid()}_sibling"
    dead = tmp_path / f"engagement_sink_{exited.pid}_gone"
    for d in (live, dead):
        d.mkdir()
        (d / "marker").write_text("x")
    rows = r10.streaming_engagement_sink_equiv(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.agrees_with_batch for r in rows)
    assert (live / "marker").exists()
    assert not dead.exists()
