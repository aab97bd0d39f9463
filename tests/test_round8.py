"""Round-8 entry (`dsir_select_topp`) against an independent pure-Python
reference — the apply half of DSIR: top-p% cut by importance weight and
the per-(lang, source) composition shift of the kept set, recomputed
with hashlib/math over literal Python dicts."""

from __future__ import annotations

from collections import Counter

from weather_data_ingestion_gcp_spark.plans import QUERIES

from test_round7 import _py_dsir, _write_documents
from test_sketch import _py_cms


def _py_topp(rows: list[tuple], keep_div: int = 10) -> dict:
    w = _py_dsir(rows)  # doc_id -> (n_bigrams, weight_nano)
    meta = {i: (lang, src) for i, _t, lang, src in rows}
    pool = sorted(w, key=lambda i: (-w[i][1], i))
    n = len(pool)
    k = (n + keep_div - 1) // keep_div
    kept = pool[:k]
    pc = Counter(meta[i] for i in pool)
    kc = Counter(meta[i] for i in kept)
    out = {}
    for (lang, src), p in pc.items():
        kd = kc.get((lang, src), 0)
        kp = 1_000_000 * kd // k
        pp = 1_000_000 * p // n
        out[(lang, src)] = (kd, p, kp, pp, kp - pp)
    return out


def test_dsir_select_topp_matches_pure_python(spark, tmp_path):
    """28 raw docs over 2 langs x 3 sources with graded target-likeness:
    the kept set (k = ceil(28/10) = 3), every ppm share, and the shift
    must equal the literal Python computation."""
    rows = [
        (0, "alpha beta gamma alpha beta", "en", "src0"),
        (1, "alpha beta delta alpha beta", "en", "src0"),
    ]
    i = 2
    for rep in range(14):
        # target-like docs (more "alpha beta" mass for low ids)
        lang = "en" if rep % 2 == 0 else "de"
        src = f"src{3 + rep % 3}"
        likeness = "alpha beta " * (14 - rep)
        rows.append((i, (likeness + "filler" + str(rep)).strip(), lang, src))
        i += 1
    for rep in range(14):
        lang = "en" if rep % 3 == 0 else "de"
        src = f"src{3 + (rep + 1) % 3}"
        rows.append((i, f"zulu yankee xray whiskey victor u{rep}", lang, src))
        i += 1
    _write_documents(spark, str(tmp_path), rows)
    got = {
        (r["lang"], r["source"]): (
            r["kept_docs"],
            r["pool_docs"],
            r["kept_ppm"],
            r["pool_ppm"],
            r["shift_ppm"],
        )
        for r in QUERIES["dsir_select_topp"](spark, str(tmp_path)).collect()
    }
    assert got == _py_topp(rows)
    # sanity on the definition: every pool doc is counted, kept == k
    assert sum(v[1] for v in got.values()) == 28
    assert sum(v[0] for v in got.values()) == 3


def test_dsir_select_topp_tie_at_cutoff_keeps_smallest_ids(spark, tmp_path):
    """All 30 raw docs tie on weight: the (weight DESC, doc_id) cut must
    keep exactly doc_ids 1..3 (k = ceil(30/10)); sources are striped so
    the composition exposes which ids survived."""
    rows = [(0, "alpha beta gamma", "en", "src0")] + [
        (i, "alpha beta gamma", "en", f"src{3 + (i - 1) % 3}")
        for i in range(1, 31)
    ]
    _write_documents(spark, str(tmp_path), rows)
    got = {
        r["source"]: (r["kept_docs"], r["pool_docs"])
        for r in QUERIES["dsir_select_topp"](spark, str(tmp_path)).collect()
    }
    # ids 1, 2, 3 -> sources src3, src4, src5: one kept each
    assert got == {"src3": (1, 10), "src4": (1, 10), "src5": (1, 10)}


# --- cms_heavy_hitters vs pure Python (the reference is test_sketch._py_cms)


def test_cms_heavy_hitters_threshold_boundary(spark, tmp_path):
    """N = 100 total occurrences, thr = 1: every distinct term clears
    the cut, so the report is exactly the top-50 by (estimate, term) —
    the LIMIT boundary under full ties on the unique tail."""
    body = " ".join(f"u{i:03d}" for i in range(100))
    _write_documents(spark, str(tmp_path), [(0, body, "en", "src0")])
    got = [
        (r["term"], r["est_count"], r["exact_count"])
        for r in QUERIES["cms_heavy_hitters"](spark, str(tmp_path)).collect()
    ]
    want = [(t, e, c) for t, e, c, _o, _h in _py_cms(
        [(0, body, "en", "src0")]
    )]
    assert got == want
    assert len(got) == 50


def test_round8_entries_empty_corpus_yield_zero_rows(spark, tmp_path):
    """Degenerate input: an EMPTY documents table must produce zero rows
    from both round-8 entries without raising — the topp cutoff scalar
    is (n=0, k=0) and the CMS threshold is NULL, but neither expression
    is ever evaluated against a row (and the oracles agree: no pool/est
    rows reach the final SELECT)."""
    _write_documents(spark, str(tmp_path), [])
    assert QUERIES["dsir_select_topp"](spark, str(tmp_path)).count() == 0
    assert QUERIES["cms_heavy_hitters"](spark, str(tmp_path)).count() == 0


def test_dsir_select_topp_single_doc_pool(spark, tmp_path):
    """A 1-doc raw pool (plus the target doc): k = ceil(1/10) = 1 keeps
    the whole pool; kept_ppm = pool_ppm = 1e6, shift 0."""
    rows = [
        (0, "alpha beta gamma", "en", "src0"),
        (1, "alpha beta delta", "de", "src7"),
    ]
    _write_documents(spark, str(tmp_path), rows)
    got = QUERIES["dsir_select_topp"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in got] == [("de", "src7", 1, 1, 1000000, 1000000, 0)]


def test_dau_wau_interval_stabbing_matches_brute_force(spark, tmp_path):
    """Round-9 redesign pin: the interval-stabbing WAU (per-user merged
    coverage intervals + day-delta prefix sums — no distinct aggregate
    state) must equal the sliding 7-day distinct count from the
    definition, on data built to hit the merge boundaries: a gap of
    EXACTLY 7 days (two disjoint-but-adjacent intervals), a gap of 6
    (one merged interval), an isolated day, and two users overlapping
    the same day."""
    import datetime as dt

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
