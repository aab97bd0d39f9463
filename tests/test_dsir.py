"""DSIR (Xie et al. 2023), both halves, against independent pure-Python
references — a third opinion beside the DuckDB oracle (the oracle mirrors
the SQL formulation; these mirror the DEFINITIONS): the hashed-bigram
importance weights of `dsir_importance_weights` recomputed with
hashlib.md5 and math.log, and the top-p% cut and per-(lang, source)
composition shift of `dsir_select_topp` over literal Python dicts."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from weather_data_ingestion_gcp_spark.plans import QUERIES

_B = 1024


def _write_documents(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{path}/documents.parquet")


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


def test_round8_entries_empty_corpus_yield_zero_rows(spark, tmp_path):
    """Degenerate input: an EMPTY documents table must produce zero rows
    from dsir_select_topp and cms_heavy_hitters without raising — the
    topp cutoff scalar is (n=0, k=0) and the CMS threshold is NULL, but
    neither expression is ever evaluated against a row (and the oracles
    agree: no pool/est rows reach the final SELECT)."""
    _write_documents(spark, str(tmp_path), [])
    assert QUERIES["dsir_select_topp"](spark, str(tmp_path)).count() == 0
    assert QUERIES["cms_heavy_hitters"](spark, str(tmp_path)).count() == 0
