"""Benchmark harness: run the query inventory at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output (stdout): the full per-query JSON record first, then a COMPACT
summary line LAST — {"metric", "value" (total sec), "unit", "queries"
(top-10 slowest only), "sf", "cpus", "master", "n_queries"}; ``cpus``
and ``master`` are what the session resolved, not what was asked for.
The full 140-float map
overflowed the driver's tail-capture buffer in round 2 (rc 0 but
parsed:null), so the final line is kept small enough to always survive a
tail capture, whichever line the driver parses. The complete record is
also written to BENCH_FULL.json beside this script.

Each query is timed end-to-end (plan + execute + collect-to-driver of the
final small result), matching how the driver's correctness harness consumes
them. Run with a query-name argument list to bench a subset.

Full-suite runs self-calibrate: a pinned two-query probe runs isolated at
suite start, after every 50 queries, and at suite end; the record carries
``calibration.host_factor`` (best probe / pinned quiet-box expectation,
floored at 1.0), per-segment probes with
``degraded_segment_queries`` (queries whose segment's bounding probes
exceed 2x the suite best — read those via their segment factor, round-12
VERDICT #3), plus ``calibrated_s_per_query`` and ``host_noise``
(in-suite > 5x isolated-warm) — so a degraded-host record is readable as
such without cross-referencing BASELINE.md (round-10's 751 s record
needed hand forensics to attribute to a host storm).

Round 14 (VERDICT-r13 #3, additions only): a query whose in-suite time
exceeds 5x the trailing median (and 2 s absolute) is re-run immediately;
``stall_reruns`` records {first, rerun} so per-query JVM-internal stalls
— which the single-core probes provably cannot see — are attributable
from the record itself. ``timings``/``value`` keep the first number. A
rerun that read a session-store memo carries ``"served_from_memo": true``
(its fast rerun is shared-build amortization, not a stall), and the full
record's ``memo_builds`` lists every shared relation the suite built:
{key: {built_by, build_s, bytes, hits}} from ``store.stats``.
"""

from __future__ import annotations

import json
import os
import sys
import time

#: Calibration probe: two cheap, stable, fixed queries (the flagship
#: scan-agg + a TPC-H single-pass filter-agg) run ISOLATED — gc first,
#: nothing else in flight — at suite start, every 50 queries, and end. Round-10
#: forensics: same-code suite totals ranged 316-663 s in one day purely
#: from host weather, and nothing in the committed JSON said so; the
#: probe gives every bench record its own deflator (VERDICT r10 #1).
CALIBRATION_QUERIES = ("daily_rollup_events", "tpch_q6_forecast_revenue")

#: Pinned expected warm probe time at sf0.1 on a quiet round-11 box:
#: median 0.93 s over 7 isolated runs (range 0.86-1.58, decaying with
#: JIT warmup), and the full-suite protocol's best probe measured 0.93 s
#: on the same box (see BASELINE.md round-11 calibration). host_factor =
#: MIN(probes_s) / expected_s — min, not median: sustained host slowness
#: (the r10 regime's 1.85x same-code A/B) dilates every probe, while
#: end-of-suite session wear and one-off stalls lift only some probes
#: (the quiet-box protocol measured [2.6, 0.93, 1.9] purely from JIT +
#: heap debt; per-query stalls are flagged separately via host_noise).
#: A reader divides the suite total by host_factor to compare across
#: rounds without BASELINE.md prose. Only meaningful at the default
#: sf0.1.
CALIBRATION_EXPECTED_S = 0.9


def _run_calibration_probe(spark, queries, sf_dir: str) -> float:
    """Min of 3 consecutive probe executions. A single execution is too
    sensitive to mid-suite heap state: a run whose suite total and
    host_noise said 'quiet box' still read single-probe samples of
    1.45-1.74 s vs the 0.84-0.93 s the same box measures repeatedly —
    and an inflated probe DEFLATES calibrated_s_per_query, the
    flattering direction. Sustained host slowness dilates all three
    executions; one-off heap/GC luck does not survive a min."""
    spark._jvm.System.gc()  # measure the probe, not accumulated heap debt
    best = None
    for _ in range(3):
        t0 = time.time()
        for name in CALIBRATION_QUERIES:
            queries[name](spark, sf_dir).toArrow().num_rows
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = set(sys.argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from weather_data_ingestion_gcp_spark import store
    from weather_data_ingestion_gcp_spark.plans import QUERIES
    from weather_data_ingestion_gcp_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers so per-query numbers measure the
    # queries, not session startup (the driver compares across rounds).
    # Both calibration queries run here so the START probe measures the
    # host, not tpch_q6's first-ever codegen + lineitem footer read
    # (measured: 2.6 s start probe vs 0.93 s isolated on a quiet box).
    for _name in CALIBRATION_QUERIES:
        QUERIES[_name](spark, sf_dir).collect()

    def _storage_mb() -> float:
        """Current cache footprint (memory + disk bytes of every cached
        block) from the SparkContext status API — sampled after each
        query so the record carries the suite's PEAK cache pressure
        (round-11 VERDICT #7: ~6 session-memoized persisted relations +
        shingle caches live across the suite; a cache-pressure
        regression should be visible in the JSON the way host noise
        is)."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    peak_storage_mb = 0.0
    timings: dict[str, float] = {}
    # GC cadence: PERIODIC, not per-query and not never. Measured at
    # sf0.1 over the 139-query suite (totals vary +-20% with host load):
    # per-query System.gc() runs 158-194s — each full GC walks the whole
    # live set including the persistent cached relations, and the walks
    # lengthen as the session accumulates state; zero GC ranged 154-239s
    # — usually fastest, but when the heap debt lands it lands on some
    # victim query as a 10-20s stall (unusable worst case). Every-Nth
    # bounds both failure modes: ~1/N of the GC tax, debt never grows
    # unbounded. Override with SPARK_GRAFT_BENCH_GC_EVERY; 0 (or
    # SPARK_GRAFT_BENCH_NO_GC=1) disables.
    gc_every_raw = os.environ.get("SPARK_GRAFT_BENCH_GC_EVERY", "8")
    gc_every = 0 if os.environ.get("SPARK_GRAFT_BENCH_NO_GC") == "1" else int(gc_every_raw)
    # SEGMENTED isolated probes (full-suite runs only — subset runs are
    # dev loops and must stay cheap): one probe at suite start, one
    # after every PROBE_EVERY queries, one at suite end. Start/middle/
    # end probes (round 11) let a mid-suite host collapse hide inside
    # one best-probe deflator (round 12: probes [1.31x, 1.18x, 4.20x]
    # and nothing said WHICH queries ran on the degraded box) — the
    # per-segment probes make a degraded-host record per-query readable
    # without a separate clean run (VERDICT r12 "Next round" #3).
    PROBE_EVERY = 50
    probes_s: list[float] = []
    #: parallel to probes_s: how many queries had finished at the probe
    probe_at: list[int] = []
    #: query name -> index of the segment (between consecutive probes)
    segment_of: dict[str, int] = {}

    def _probe(done: int, label: str) -> None:
        probes_s.append(_run_calibration_probe(spark, QUERIES, sf_dir))
        probe_at.append(done)
        print(
            f"# calibration probe ({label}, after {done}):"
            f" {probes_s[-1]:.2f}s",
            file=sys.stderr,
        )

    # Per-query stall self-check (round 14, VERDICT-r13 #3, additions
    # only): the round-13 forensics proved the single-core calibration
    # probes CANNOT see JVM-internal per-query stalls (interpreted-eval
    # deopt, GC debt landing on a victim) — wide stages ran 10-25x slow
    # while every probe stayed at the pin. When an in-suite time exceeds
    # STALL_FACTOR x the trailing median of recent queries (and a 2 s
    # absolute floor — sub-second queries can't "stall" meaningfully),
    # the query is re-run immediately and BOTH numbers land in
    # ``stall_reruns`` {name: {"first", "rerun"}}. ``timings`` (and the
    # total) keep the FIRST number — the suite really paid it — so old
    # records stay comparable; the rerun tells the reader whether it was
    # a stall/shared-build (rerun fast) or a genuinely expensive plan
    # (rerun comparable). Bounded by STALL_RERUN_MAX per suite.
    STALL_FACTOR = 5.0
    STALL_RERUN_MAX = 15
    stall_reruns: dict[str, dict[str, float]] = {}
    recent: list[float] = []  # trailing in-suite timings (this run)

    def _memo_hits() -> int:
        return sum(e["hits"] for e in store.stats(spark).values())

    def _trailing_median() -> float | None:
        if len(recent) < 8:  # too early to call anything a stall
            return None
        window = sorted(recent[-25:])
        return window[len(window) // 2]

    if not only:
        _probe(0, "start")
    n_done = 0
    for i, (name, fn) in enumerate(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        # Arrow transfer: measures engine throughput, not py4j Row
        # materialization (which is 2x the query time on multi-million-row
        # outputs)
        n = fn(spark, sf_dir).toArrow().num_rows
        timings[name] = round(time.time() - t0, 3)
        segment_of[name] = len(probes_s) - 1
        peak_storage_mb = max(peak_storage_mb, _storage_mb())
        print(f"# {name}: {timings[name]:.2f}s ({n} rows)", file=sys.stderr)
        med = _trailing_median()
        if (
            not only
            and med is not None
            and len(stall_reruns) < STALL_RERUN_MAX
            and timings[name] > STALL_FACTOR * med
            and timings[name] > 2.0
        ):
            hits = _memo_hits()
            t1 = time.time()
            fn(spark, sf_dir).toArrow().num_rows
            rerun = round(time.time() - t1, 3)
            stall_reruns[name] = {"first": timings[name], "rerun": rerun}
            if _memo_hits() > hits:
                stall_reruns[name]["served_from_memo"] = True
            print(
                f"# stall-check rerun {name}: first {timings[name]:.2f}s,"
                f" rerun {rerun:.2f}s (trailing median {med:.2f}s)",
                file=sys.stderr,
            )
        recent.append(timings[name])
        if gc_every and (i + 1) % gc_every == 0:
            spark._jvm.System.gc()
        n_done += 1
        if not only and n_done % PROBE_EVERY == 0:
            _probe(n_done, "segment")
    if not only and (not probe_at or probe_at[-1] != n_done):
        _probe(n_done, "end")

    # Self-triage: in-suite per-query numbers are position-dependent (the
    # first consumer of a shared persisted relation pays the whole block's
    # build; GC lands on arbitrary victims), so a raw round-over-round
    # diff flags false regressions whenever the registry order changes.
    # Re-run the top-10 most expensive queries ISOLATED-WARM (caches hot,
    # nothing else in flight) and record both numbers — the warm figure is
    # the honest per-query cost, the in-suite figure the honest total.
    top10_names = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:10]]
    isolated_warm: dict[str, float] = {}
    for name in top10_names:
        # by suite end the heap carries 200 queries of debt; collect it
        # BEFORE the measurement so the warm number reflects the query,
        # not a GC pause landing on it (observed: a 4.4s query measured
        # 10.9s warm purely from end-of-suite heap pressure)
        spark._jvm.System.gc()
        t0 = time.time()
        QUERIES[name](spark, sf_dir).toArrow().num_rows
        isolated_warm[name] = round(time.time() - t0, 3)
        print(f"# warm {name}: {isolated_warm[name]:.2f}s", file=sys.stderr)

    # the suite keeps shared relations in the session store; record what
    # each cost, then release them once the suite (and the warm re-runs
    # that rely on them) is done rather than leaving the session to LRU
    # eviction
    memo_builds = store.stats(spark)
    store.release()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Self-calibration (VERDICT r10 #1): the record carries its own host
    # deflator. host_factor = BEST isolated probe / pinned expectation
    # (1.0 = the quiet reference box; the r10 driver run would have
    # recorded ~1.9-3+). calibrated_s_per_query = total / n / factor is
    # the number the 2x acceptance bar applies to — readable straight
    # from the JSON. host_noise lists queries whose in-suite time is
    # > 5x their isolated-warm re-run (and > 2 s absolute): storm
    # victims, not plan regressions.
    calibration = None
    degraded_queries: list[str] = []
    if probes_s:
        probe_best = min(probes_s)
        factor = (
            round(max(1.0, probe_best / CALIBRATION_EXPECTED_S), 2)
            if sf_val == 0.1
            else None  # expectation pinned at sf0.1 only
        )
        # per-segment readability: a query's host state is bounded by
        # the probes on either side of it; the OPTIMISTIC bound (min of
        # the two) flags only genuinely degraded stretches. Queries in
        # a segment whose bounding-min probe exceeds 2x the suite-best
        # ran on a measurably different box than the deflator claims —
        # their in-suite numbers should be read via their own segment
        # factor, not host_factor.
        segments = []
        for k in range(len(probes_s)):
            hi_p = probes_s[k + 1] if k + 1 < len(probes_s) else probes_s[k]
            seg_probe = min(probes_s[k], hi_p)
            segments.append(
                {
                    "after_n": probe_at[k],
                    "probe_s": probes_s[k],
                    "segment_probe_s": round(seg_probe, 3),
                    "segment_factor_vs_best": round(seg_probe / probe_best, 2),
                }
            )
        degraded = {
            k for k, s in enumerate(segments)
            if s["segment_probe_s"] > 2 * probe_best
        }
        degraded_queries = sorted(
            n for n, k in segment_of.items() if k in degraded
        )
        calibration = {
            "probe_queries": list(CALIBRATION_QUERIES),
            "probes_s": probes_s,
            "probe_s": probe_best,
            "expected_s": CALIBRATION_EXPECTED_S if sf_val == 0.1 else None,
            "host_factor": factor,
            "segments": segments,
            "degraded_segment_queries": degraded_queries,
            # expected_s is pinned to ONE box; on any other host the
            # deflator is computed against an expectation that does not
            # hold there (and the 1.0 floor hides faster hosts). The raw
            # probes_s above are the primary cross-host artifact.
            "reference_box": "round-11 quiet box (expected_s pinned there;"
            " treat host_factor as same-box-only)",
        }
    host_noise = sorted(
        n
        for n in isolated_warm
        if timings[n] > 5 * isolated_warm[n] and timings[n] - isolated_warm[n] > 2.0
    )
    value = round(sum(timings.values()), 3)
    cal_spq = None
    if calibration and calibration["host_factor"] and timings:
        cal_spq = round(value / len(timings) / calibration["host_factor"], 3)

    full = {
        "metric": "query_suite_wall_clock",
        "value": value,
        "unit": "sec",
        "queries": timings,
        "isolated_warm": isolated_warm,
        "calibration": calibration,
        "host_noise": host_noise,
        "stall_reruns": stall_reruns,
        "memo_builds": memo_builds,
        "calibrated_s_per_query": cal_spq,
        "peak_storage_mb": round(peak_storage_mb, 1),
        "sf": sf_val,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    print(json.dumps(full))
    if not only:  # subset runs must not clobber the full-suite record
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    top10 = {n: timings[n] for n in top10_names}
    print(
        json.dumps(
            {
                "metric": "query_suite_wall_clock",
                "value": full["value"],
                "unit": "sec",
                "queries": top10,
                "isolated_warm": isolated_warm,
                "calibration": calibration,
                "host_noise": host_noise,
                "stall_reruns": stall_reruns,
                "calibrated_s_per_query": cal_spq,
                "peak_storage_mb": round(peak_storage_mb, 1),
                "sf": sf_val,
                "cpus": full["cpus"],
                "master": full["master"],
                "n_queries": len(timings),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
