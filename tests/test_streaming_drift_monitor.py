"""Streaming drift monitor: incremental count maintenance + PSI.

Composes the round-7 PSI arithmetic with the incremental-maintenance
machinery over a real Structured Streaming file source: each micro-batch
updates a per-bucket count view via signed deltas (no recompute), and the
monitor evaluates PSI of the LIVE distribution against a fixed reference
histogram after every batch — the online form of `psi_value_drift`.
Checks: the maintained counts equal a from-scratch aggregate after every
batch; PSI stays under the alarm threshold while traffic mirrors the
reference and crosses it when a shifted batch lands; a checkpoint-
replayed batch leaves both the view and the alarm unchanged. The batch
entry `psi_value_drift` itself is checked here too, against PSI's
textbook sum over a literal histogram."""

from __future__ import annotations

import datetime as dt
import math
import os

from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators import incremental
from weather_data_ingestion_gcp_spark.plans import QUERIES

_SCHEMA = "event_id long, bucket long"
_PSI_ALARM_PPM = 100_000
#: fixed reference histogram (e.g. the training window's distribution)
_REF = {1: 40, 2: 40, 3: 20}


def _land(landing: str, name: str, rows: list[tuple[int, int]]) -> None:
    os.makedirs(landing, exist_ok=True)
    tmp = os.path.join(landing, name + ".tmp")
    with open(tmp, "w") as f:
        for i, b in rows:
            f.write('{"event_id": %d, "bucket": %d}\n' % (i, b))
    os.rename(tmp, os.path.join(landing, name))


def _nano_ln(x: int) -> int:
    return round(math.log(x) * 1_000_000_000)


def _psi_ppm(live: dict[int, int]) -> int:
    """Same integer discipline as plans/audit_stats.psi_value_drift: add-1
    smoothing over the union bucket set, clamped ppm fractions,
    (p-q)*(nano_ln p - nano_ln q) BIGINT terms, floor-div to ppm."""
    buckets = sorted(set(_REF) | set(live))
    a_tot = sum(_REF.get(b, 0) + 1 for b in buckets)
    b_tot = sum(live.get(b, 0) + 1 for b in buckets)
    terms = 0
    for b in buckets:
        p = max((1_000_000 * (_REF.get(b, 0) + 1)) // a_tot, 1)
        q = max((1_000_000 * (live.get(b, 0) + 1)) // b_tot, 1)
        terms += (p - q) * (_nano_ln(p) - _nano_ln(q))
    return terms // 1_000_000_000


def test_streaming_psi_drift_monitor(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    state = {"view": None, "alarms": []}
    seen_rows: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        ch = batch_df.select(
            "bucket",
            F.lit(1).cast("long").alias("v"),
            F.lit("insert").alias("_change_type"),
        )
        base = state["view"]
        if base is None:
            base = spark.createDataFrame([], "bucket long, n long, total long")
        view = incremental.refresh_rollup(
            base, ch, ["bucket"], "v", sum_col="total", count_col="n"
        ).localCheckpoint()
        state["view"] = view
        live = {r["bucket"]: r["n"] for r in view.collect()}
        state["alarms"].append(_psi_ppm(live) >= _PSI_ALARM_PPM)

    def run():
        q = (
            spark.readStream.schema(_SCHEMA)
            .json(landing)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 0: mirrors the reference mix exactly -> no alarm
    rows0 = (
        [(i, 1) for i in range(40)]
        + [(100 + i, 2) for i in range(40)]
        + [(200 + i, 3) for i in range(20)]
    )
    seen_rows += rows0
    _land(landing, "b0.json", rows0)
    run()
    assert state["alarms"] == [False]

    # maintained view == full recompute over everything seen
    def full():
        return {
            b: sum(1 for _i, bb in seen_rows if bb == b)
            for b in {bb for _i, bb in seen_rows}
        }

    assert {r["bucket"]: r["n"] for r in state["view"].collect()} == full()

    # batch 1: mass floods into a brand-new bucket -> alarm fires
    rows1 = [(300 + i, 9) for i in range(300)]
    seen_rows += rows1
    _land(landing, "b1.json", rows1)
    run()
    assert state["alarms"][-1] is True
    assert {r["bucket"]: r["n"] for r in state["view"].collect()} == full()

    # checkpoint replay: restarting with no new files re-triggers nothing
    # (availableNow + checkpoint), so view and alarm history are stable
    view_before = {r["bucket"]: r["n"] for r in state["view"].collect()}
    n_alarms = len(state["alarms"])
    run()
    assert {r["bucket"]: r["n"] for r in state["view"].collect()} == view_before
    assert len(state["alarms"]) == n_alarms


# --- psi_value_drift vs its textbook sum over a literal histogram ------


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.parquet(f"{path}/events.parquet")


_DAY0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _py_psi(rows: list[tuple]) -> dict[str, tuple]:
    recs = [
        (et, ts.date(), len(str(round(v * 100))))
        for _i, ts, _u, et, v, _p in rows
    ]
    d0 = min(d for _e, d, _b in recs)
    buckets = sorted({b for *_x, b in recs})
    out = {}
    for et in sorted({e for e, *_x in recs}):
        terms = 0
        cnt = {
            (b, h): sum(
                1
                for e, d, bb in recs
                if e == et and bb == b and ((d - d0).days >= 15) == bool(h)
            )
            for b in buckets
            for h in (0, 1)
        }
        sm = {k: v + 1 for k, v in cnt.items()}
        tot = {
            h: sum(v for (b, hh), v in sm.items() if hh == h) for h in (0, 1)
        }
        for b in buckets:
            p = max((1_000_000 * sm[(b, 0)]) // tot[0], 1)
            q = max((1_000_000 * sm[(b, 1)]) // tot[1], 1)
            terms += (p - q) * (_nano_ln(p) - _nano_ln(q))
        psi_ppm = terms // 1_000_000_000
        out[et] = (psi_ppm, psi_ppm >= 100_000)
    return out


def test_psi_matches_pure_python(spark, tmp_path):
    rows = []
    i = 0
    # 'stable': same magnitude mix both halves -> PSI ~ 0
    for day in (0, 20):
        for v in (1.00, 10.00, 100.00, 1.00, 10.00, 100.00):
            rows.append((i, _DAY0 + dt.timedelta(days=day), i, "stable", v, "{}"))
            i += 1
    # 'shifted': all small cents early, all large cents late
    for v in (1.00, 2.00, 3.00, 4.00, 5.00, 6.00):
        rows.append((i, _DAY0, i, "shifted", v, "{}"))
        i += 1
    for v in (100.00, 200.00, 300.00, 400.00, 500.00, 600.00):
        rows.append((i, _DAY0 + dt.timedelta(days=20), i, "shifted", v, "{}"))
        i += 1
    _write_events(spark, str(tmp_path), rows)
    got = {
        r["event_type"]: (r["psi_ppm"], r["unstable"])
        for r in QUERIES["psi_value_drift"](spark, str(tmp_path)).collect()
    }
    assert got == _py_psi(rows)
    assert not got["stable"][1]
    assert got["shifted"][1]
    assert got["stable"][0] < got["shifted"][0]


def test_psi_identical_halves_is_exactly_zero(spark, tmp_path):
    """The definition's fixed point: identical first/second-half bucket
    histograms give every term p == q, so PSI is exactly 0."""
    rows = []
    i = 0
    for day in (0, 16):
        for v in (5.00, 50.00):
            rows.append((i, _DAY0 + dt.timedelta(days=day), i, "a", v, "{}"))
            i += 1
    _write_events(spark, str(tmp_path), rows)
    out = QUERIES["psi_value_drift"](spark, str(tmp_path)).collect()
    assert [(r["psi_ppm"], r["unstable"]) for r in out] == [(0, False)]
