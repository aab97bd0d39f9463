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


def _write_embeddings(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        rows, "vec_id bigint, label bigint, embedding array<float>"
    ).write.parquet(f"{path}/embeddings.parquet")


def _hex4_bucket(i: int) -> int:
    return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100


def test_semantic_decontamination_matches_pure_python(spark, tmp_path):
    """Brute-force the per-block test->train argmax in pure Python with
    the SAME ascending-dimension fold, including the smallest-train-id
    tie rule (two identical train vectors)."""
    # pick ids whose md5-hex4 buckets land in the test (<10) and train
    # (>=15) bands so the fixture controls its own split
    test_ids = [i for i in range(2000) if _hex4_bucket(i) < 10]
    train_ids = [i for i in range(2000) if _hex4_bucket(i) >= 15]
    t0, t1 = test_ids[0], test_ids[1]
    r0, r1, r2, r3 = train_ids[0], train_ids[1], train_ids[2], train_ids[3]
    rows = [
        # label 0: t0 nearly parallel to r0, orthogonal-ish to r1
        (t0, 0, [1.0, 0.0, 0.1]),
        (r0, 0, [0.9, 0.05, 0.1]),
        (r1, 0, [0.0, 1.0, 0.0]),
        # label 1: r2 == r3 exactly -> tie must break to min(r2, r3)
        (t1, 1, [0.5, 0.5, 0.0]),
        (r2, 1, [1.0, 1.0, 0.0]),
        (r3, 1, [1.0, 1.0, 0.0]),
        # excluded band (10 <= bucket < 15) must not participate; find one
        *[
            (i, 0, [1.0, 0.0, 0.0])
            for i in range(2000)
            if 10 <= _hex4_bucket(i) < 15
        ][:1],
    ]
    _write_embeddings(spark, str(tmp_path), rows)
    got = {
        r["test_id"]: (r["train_id"], r["cos_sim"], r["contaminated"])
        for r in QUERIES["decontaminate_semantic_topmatch"](
            spark, str(tmp_path)
        ).collect()
    }

    def cos(a, b):
        dot = n1 = n2 = 0.0
        for d in range(len(a)):  # ascending-dim fold, same IEEE order
            dot += a[d] * b[d]
            n1 += a[d] * a[d]
            n2 += b[d] * b[d]
        return dot / (math.sqrt(n1) * math.sqrt(n2))

    vec = {i: [float(x) for x in e] for i, _l, e in rows}
    # float32 storage: round-trip through struct to mirror parquet floats
    import struct

    vec = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in vec.items()
    }
    want = {}
    for tid, block in ((t0, (r0, r1)), (t1, (r2, r3))):
        best = max(block, key=lambda r: (cos(vec[tid], vec[r]), -r))
        s = cos(vec[tid], vec[best])
        want[tid] = (best, round(s, 6), s >= 0.35)
    assert got == want
    assert got[t1][0] == min(r2, r3)  # the tie rule, explicitly
    assert got[t0][0] == r0 and got[t0][2]


def _cos(a, b):
    """Cosine with the ascending-dim IEEE fold and dot/(na*nb)."""
    dot = n1 = n2 = 0.0
    for d in range(len(a)):
        dot += a[d] * b[d]
        n1 += a[d] * a[d]
        n2 += b[d] * b[d]
    return dot / (math.sqrt(n1) * math.sqrt(n2))


def _naive_topmatch(vec, test_ids, train_ids):
    """Unchunked reference: full argmax with the smallest-id tie rule
    and the ascending-dim IEEE fold."""
    out = {}
    for t in test_ids:
        best = max(train_ids, key=lambda r: (_cos(vec[t], vec[r]), -r))
        s = _cos(vec[t], vec[best])
        out[t] = (best, round(s, 6), s >= 0.35)
    return out


def test_semantic_decontamination_chunked_fold_equals_naive(
    spark, tmp_path, monkeypatch
):
    """The tile scan (bounded score matrix) must be output-identical to
    the untiled result: shrink the tile edge to 3 so a ~20-train-vector
    label folds across 7 tiles, with (a) a tie pair split ACROSS tiles
    (must keep the smaller id), (b) the strict best in the LAST tile
    (running max must replace), and (c) a test side wider than one
    tile. The same fixture's within-label pairs through
    dedup_embedding_cosine (25 vectors: the 45 tiles on or above the
    diagonal of a 9 x 9 tiling) must equal a pure-Python all-pairs."""
    from weather_data_ingestion_gcp_spark.operators import similarity

    monkeypatch.setattr(similarity, "TILE", 3)
    test_ids = [i for i in range(3000) if _hex4_bucket(i) < 10][:5]
    train_ids = [i for i in range(3000) if _hex4_bucket(i) >= 15][:20]
    import random

    rng = random.Random(82)
    vecs = {}
    for t in test_ids:
        vecs[t] = [rng.uniform(-1, 1) for _ in range(4)]
    for r in train_ids:
        vecs[r] = [rng.uniform(-1, 1) for _ in range(4)]
    # (a) cross-tile tie: train_ids is ascending, so [2] and [17] land in
    # different size-3 tiles; make them identical and very close to
    # test_ids[0] so they are that test vector's argmax
    near = [x * 1.01 for x in vecs[test_ids[0]]]
    vecs[train_ids[2]] = list(near)
    vecs[train_ids[17]] = list(near)
    # (b) strict best for test_ids[1] in the last tile
    vecs[train_ids[19]] = [x * 0.99 for x in vecs[test_ids[1]]]
    rows = [(i, 0, vecs[i]) for i in test_ids + train_ids]
    _write_embeddings(spark, str(tmp_path), rows)
    got = {
        r["test_id"]: (r["train_id"], r["cos_sim"], r["contaminated"])
        for r in QUERIES["decontaminate_semantic_topmatch"](
            spark, str(tmp_path)
        ).collect()
    }
    import struct

    vec32 = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    want = _naive_topmatch(vec32, test_ids, train_ids)
    assert got == want
    assert got[test_ids[0]][0] == train_ids[2]  # cross-tile tie -> min id
    assert got[test_ids[1]][0] == train_ids[19]  # last-tile strict best

    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in QUERIES["dedup_embedding_cosine"](spark, str(tmp_path)).collect()
    }
    ids = sorted(vec32)
    want_pairs = {
        (a, b): round(_cos(vec32[a], vec32[b]), 6)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _cos(vec32[a], vec32[b]) >= 0.35
    }
    assert want_pairs and pairs == want_pairs


def test_semantic_decontamination_excludes_zero_norm(spark, tmp_path):
    """A zero vector has no cosine; its NaN would sort differently in
    Spark (fails >=) vs DuckDB (NaN above everything). Both sides must
    drop zero-norm embeddings: a zero TEST vector emits no row, a zero
    TRAIN vector never wins, and a label whose only train vector is
    zero-norm emits nothing."""
    test_ids = [i for i in range(2000) if _hex4_bucket(i) < 10]
    train_ids = [i for i in range(2000) if _hex4_bucket(i) >= 15]
    t0, t1, t2 = test_ids[:3]
    r0, r1, r2 = train_ids[:3]
    rows = [
        # label 0: zero test vector beside a live one
        (t0, 0, [0.0, 0.0, 0.0]),
        (t1, 0, [1.0, 0.0, 0.0]),
        (r0, 0, [0.9, 0.1, 0.0]),
        # zero TRAIN vector would be NaN-argmax without the guard
        (r1, 0, [0.0, 0.0, 0.0]),
        # label 1: only train vector is zero-norm -> no row for t2
        (t2, 1, [0.0, 1.0, 0.0]),
        (r2, 1, [0.0, 0.0, 0.0]),
    ]
    _write_embeddings(spark, str(tmp_path), rows)
    got = {
        r["test_id"]: r["train_id"]
        for r in QUERIES["decontaminate_semantic_topmatch"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {t1: r0}
