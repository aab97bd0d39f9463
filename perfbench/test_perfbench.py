"""Tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import threading

import pytest

import gen
import sparkstats
import workloads
from spans import Span, Tracer, percentile, self_times, tail, totals_by_name


# -- generators ---------------------------------------------------------------


def _read_all(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_are_byte_identical_for_one_seed_and_differ_across_seeds(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    da = gen.write_tables(7, str(a))
    db = gen.write_tables(7, str(b))
    dc = gen.write_tables(8, str(c))
    assert da == db and da != dc
    files_a, files_b, files_c = _read_all(a), _read_all(b), _read_all(c)
    assert files_a == files_b
    assert sorted(files_a) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert files_a["documents.parquet"] != files_c["documents.parquet"]


def test_weather_plan_is_seeded_and_shaped_for_the_pipeline():
    p, q, r = gen.weather_plan(3), gen.weather_plan(3), gen.weather_plan(4)
    assert p.digest() == q.digest() and p.digest() != r.digest()
    days = sorted(f.day for f in p.files)
    assert (days[-1] - days[0]).days >= 15  # spans past the retention window
    assert len(set(days)) == len(days)  # one landed hour per day
    assert sum(f.corrupt_lines for f in p.files) == p.corrupt_lines
    assert p.files[0].corrupt_lines == 0
    landing_days = [f.day for f in p.files]
    assert landing_days != sorted(landing_days) or p.late_files == 0


def test_generated_doubles_are_dyadic():
    # sums of these are exact in any order, so engine and oracle agree
    t = gen.build_tables(5)
    for table, col in [("lineitem", "l_extendedprice"), ("lineitem", "l_discount"),
                       ("orders", "o_totalprice"), ("events", "value")]:
        for v in t[table].column(col).to_pylist()[:2000]:
            assert (v * 128).is_integer(), (table, col, v)


# -- latency summaries ----------------------------------------------------------


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, "p90")
    xs = [float(i) for i in range(1, 1001)]
    assert tail(xs) == (990.0, "p99")
    xs = [float(i) for i in range(1, 21)]
    assert tail(xs) == (10.0, "p50")
    xs = [float(i) for i in range(1, 20)]
    assert tail(xs) == (19.0, "max")


def test_tail_counts_ties_as_not_beyond():
    xs = [1.0] * 30 + [2.0] * 9
    # every percentile that lands on 1.0 has only nine samples above it
    assert tail(xs) == (2.0, "max")


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


# -- spans ----------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span(1, None, "jobs.load_and_transform", 0.0, 10.0),
        Span(2, 1, "jobs.append_hourly", 1.0, 3.0),
        Span(3, 1, "jobs.refresh_daily", 2.0, 5.0),  # overlaps span 2
        Span(4, 1, "jobs.log", 9.0, 12.0),  # runs past its parent
        Span(5, 3, "exec.collect", 2.5, 4.0),  # grandchild
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.5)
    totals = totals_by_name(spans)
    assert totals["jobs.refresh_daily"] == pytest.approx((3.0, 1.5, 1))


def test_tracer_nests_spans_and_adopts_work_from_other_threads():
    tr = Tracer(enabled=True)
    with tr.span("stream.drain") as sid, tr.adopt(sid):
        with tr.span("plans.build"):
            pass

        def body():
            with tr.span("jobs.load_and_transform"):
                with tr.span("jobs.append_hourly"):
                    pass

        t = threading.Thread(target=body)
        t.start()
        t.join(10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    drain = by_name["stream.drain"]
    assert by_name["plans.build"].parent == drain.id
    assert by_name["jobs.load_and_transform"].parent == drain.id
    assert by_name["jobs.append_hourly"].parent == by_name["jobs.load_and_transform"].id


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("plans.build") as sid:
        assert sid is None
    assert tr.spans == []


# -- status-store parsing ---------------------------------------------------------


def test_parse_metric_reads_plain_values_and_per_task_totals():
    assert sparkstats.parse_metric("534 ms") == pytest.approx(0.534)
    assert sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.8 s (204 ms, 2.6 s, 2.6 s (stage 15.0: task 7))"
    ) == pytest.approx(2.8)
    assert sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n528.3 KiB (264.1 KiB, 264.1 KiB)"
    ) == pytest.approx(528.3 / 1024)
    assert sparkstats.parse_metric("1.5 m") == pytest.approx(90.0)
    assert sparkstats.parse_metric("n/a") is None


def test_map_entries_split_only_on_long_keys():
    text = "Map(12 -> 534 ms, 7 -> total (min, med, max)\n1.0 s (1 ms, 2 ms, 3 ms), 40 -> 0.0 B)"
    assert sparkstats._map_entries(text) == {
        12: "534 ms",
        7: "total (min, med, max)\n1.0 s (1 ms, 2 ms, 3 ms)",
        40: "0.0 B",
    }


# -- ingest recompute ---------------------------------------------------------------


def test_round_half_up_accepts_both_neighbours_only_at_a_boundary():
    assert workloads._round_half_up(1.234, 2) == (1.23,)
    assert workloads._round_half_up(1.235, 2) == (1.24, 1.23)
    assert workloads._round_half_up(-0.5, 0) == (-1.0, -0.0)


def test_expected_daily_follows_the_reference_rollup():
    plan = gen.weather_plan(11)
    want = workloads.expected_daily(plan)
    assert set(want) == {f.day for f in plan.files}
    for f in plan.files:
        row = want[f.day]
        temps = [p["main"]["temp"] - 273.15 for p in f.payloads]
        assert min(abs(a - sum(temps) / len(temps)) for a in row["avg_temp"]) <= 0.005 + 1e-9
        assert row["till_time"] == (("EOD",) if f.time > "23:00:00" else (f.time,))
        assert row["month"] == (f.day.month,)
