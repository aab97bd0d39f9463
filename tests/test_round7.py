"""Round-7 entries against independent pure-Python references —
a third opinion beside the DuckDB oracle (the oracle mirrors the SQL
formulation; these mirror the DEFINITIONS: DSIR's hashed-bigram
importance ratio from Xie et al. 2023 recomputed with hashlib.md5 and
math.log, and PSI from its textbook sum over a literal histogram)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

from weather_data_ingestion_gcp_spark.plans import QUERIES

_B = 1024


def _write_documents(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{path}/documents.parquet")


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.parquet(f"{path}/events.parquet")


def _nano_ln(x: int) -> int:
    return round(math.log(x) * 1_000_000_000)


def _bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % _B


def _bigrams(t: str) -> list[str]:
    ws = [w for w in t.lower().split() if w]
    return [f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)]


def _py_dsir(rows: list[tuple]) -> dict[int, tuple]:
    tc: dict[int, int] = {}
    rc: dict[int, int] = {}
    nt = nr = 0
    for _i, t, _l, src in rows:
        for g in _bigrams(t):
            b = _bucket(g)
            if src == "src0":
                tc[b] = tc.get(b, 0) + 1
                nt += 1
            else:
                rc[b] = rc.get(b, 0) + 1
                nr += 1
    wn = {
        b: _nano_ln(tc.get(b, 0) + 1)
        - _nano_ln(nt + _B)
        - _nano_ln(rc.get(b, 0) + 1)
        + _nano_ln(nr + _B)
        for b in range(_B)
    }
    out: dict[int, tuple] = {}
    for i, t, _l, src in rows:
        if src == "src0":
            continue
        gs = _bigrams(t)
        if not gs:
            continue
        out[i] = (len(gs), sum(wn[_bucket(g)] for g in gs))
    return out


def test_dsir_matches_pure_python(spark, tmp_path):
    # target domain src0 talks about "alpha beta"; the raw pool has one
    # doc mimicking the target phrasing (should score highest), one
    # unrelated doc, and one single-word doc (no bigrams -> not scored)
    rows = [
        (0, "alpha beta gamma alpha beta", "en", "src0"),
        (1, "alpha beta delta alpha beta", "en", "src0"),
        (2, "alpha beta gamma beta alpha beta", "en", "src3"),
        (3, "zulu yankee xray whiskey victor uniform", "en", "src5"),
        (4, "solo", "en", "src7"),
        (5, "alpha beta", "en", "src9"),
    ]
    _write_documents(spark, str(tmp_path), rows)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["weight_nano"])
        for r in QUERIES["dsir_importance_weights"](spark, str(tmp_path)).collect()
    }
    assert got == _py_dsir(rows)
    # the definitional ordering: target-like docs outrank unrelated ones
    # on the PER-BIGRAM ratio, and doc 4 never appears (zero features)
    assert got[5][1] / got[5][0] > got[3][1] / got[3][0]
    assert 4 not in got


def test_dsir_top100_cut_is_deterministic(spark, tmp_path):
    # 120 raw docs with identical text tie on weight: the (weight DESC,
    # doc_id) sort must keep exactly doc_ids 1..100
    rows = [(0, "alpha beta gamma", "en", "src0")] + [
        (i, "alpha beta gamma", "en", "src3") for i in range(1, 121)
    ]
    _write_documents(spark, str(tmp_path), rows)
    out = QUERIES["dsir_importance_weights"](spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in out] == list(range(1, 101))
    assert len({r["weight_nano"] for r in out}) == 1


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
