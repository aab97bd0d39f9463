"""The sketch family (operators/sketch.py): Bloom, Count-Min, KMV and
Misra-Gries against pure-Python references, their hostile inputs (NULL
and non-string keys), their DuckDB mirrors (plans/oracle_sql.py) and the
plan shapes their scale story rests on."""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from collections import Counter
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators import sketch
from weather_data_ingestion_gcp_spark.plans import ORACLE, QUERIES

from test_dsir import _write_documents
from test_scale_plans import SF


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _duck(sf: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "events"):
        if os.path.exists(f"{sf}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")
    return con


# --- KMV -------------------------------------------------------------------


def test_kmv_intersection_estimate_reasonable(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 200 users click, 200 view, overlap = users 100..199
    for u in range(200):
        rows.append((eid, t0, u, "click", 1.0, "{}")); eid += 1
    for u in range(100, 300):
        rows.append((eid, t0, u, "view", 1.0, "{}")); eid += 1
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    from weather_data_ingestion_gcp_spark.plans.audit_stats import kmv_join_cardinality

    r = kmv_join_cardinality(spark, sf).first()
    assert r["exact_intersection"] == 100
    assert r["within_bound"] is True
    # inclusion-exclusion over k=64 sketches lands near the exact count
    assert abs(r["est_intersection"] - 100) <= 50


def test_kmv_join_estimates_come_from_one_grouped_sketch(spark):
    """The click, view and union estimates are one KMV sketch grouped by
    a tag: one rank window, no per-estimate orderBy-limit."""
    tree = _formatted(QUERIES["kmv_join_cardinality"](spark, SF)).split("\n\n")[0]
    assert tree.count(" Window (") == 1
    assert "TakeOrderedAndProject" not in tree


# --- Count-Min -------------------------------------------------------------


def _py_cms(rows, phi_div=100, top=50):
    """cms_heavy_hitters recomputed with hashlib at the module geometry:
    sketch.CMS_D rows of "seed|word" md5-hex4 buckets."""
    from weather_data_ingestion_gcp_spark.plans.audit_stats import _WORD_CMS_W as w

    d = sketch.CMS_D
    toks: list[str] = []
    for _i, text, _l, _s in rows:
        toks += [t for t in text.lower().split() if t]
    wc = Counter(toks)

    def bucket(i: int, word: str) -> int:
        return int(hashlib.md5(f"{i}|{word}".encode()).hexdigest()[:4], 16) % w

    cms: Counter = Counter()
    for word, c in wc.items():
        for i in range(d):
            cms[(i, bucket(i, word))] += c
    est = {
        word: min(cms[(i, bucket(i, word))] for i in range(d)) for word in wc
    }
    n = sum(wc.values())
    thr = (n + phi_div - 1) // phi_div
    out = [
        (word, est[word], wc[word], est[word] - wc[word], int(wc[word] >= thr))
        for word in wc
        if est[word] >= thr
    ]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:top]


def test_cms_heavy_hitters_matches_pure_python(spark, tmp_path):
    """Zipf-ish corpus with one dominant term, a mid tier, and a long
    unique tail: the sketch estimates, exact counts, overcounts, and the
    ceil(N/100) heavy cut must equal the literal hashlib computation."""
    rows = []
    for i in range(40):
        body = ["the"] * 5 + [f"mid{i % 7}"] * 2 + [f"tail{i}a", f"tail{i}b"]
        rows.append((i, " ".join(body), "en", "src0"))
    _write_documents(spark, str(tmp_path), rows)
    got = [
        (r["term"], r["est_count"], r["exact_count"], r["overcount"],
         r["heavy_exact"])
        for r in QUERIES["cms_heavy_hitters"](spark, str(tmp_path)).collect()
    ]
    want = _py_cms(rows)
    assert got == want
    assert any(t[4] == 1 for t in got)  # the dominant term is heavy
    assert all(t[3] >= 0 for t in got)  # one-sided error law


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


def test_countmin_null_key_has_no_bucket_in_either_engine(spark):
    """One NULL rule in both engines: a NULL key hashes to no bucket, so
    it adds to no cell and gets no estimate; a 4-bucket width forces
    collisions, so a NULL counted into any cell would show."""
    from weather_data_ingestion_gcp_spark.plans.oracle_sql import countmin_sql

    counts = [("a", 5), (None, 70), ("b", 1), ("c", 2)]
    df = spark.createDataFrame(counts, "k string, n bigint")
    got = sorted(
        tuple(r) for r in sketch.countmin_estimate(df, "k", "n", 4).collect()
    )

    def bucket(s: int, k: str) -> int:
        return int(hashlib.md5(f"{s}|{k}".encode()).hexdigest()[:4], 16) % 4

    keyed = [(k, n) for k, n in counts if k is not None]
    cells = Counter()
    for k, n in keyed:
        for s in range(sketch.CMS_D):
            cells[(s, bucket(s, k))] += n
    want = sorted(
        (k, n, min(cells[(s, bucket(s, k))] for s in range(sketch.CMS_D)))
        for k, n in keyed
    )
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE counts (k VARCHAR, n BIGINT)")
    con.executemany("INSERT INTO counts VALUES (?, ?)", counts)
    assert sorted(con.execute(countmin_sql("counts", "k", "n", 4)).fetchall()) == want


# --- Bloom -----------------------------------------------------------------


def test_bloom_null_build_and_probe_keys(spark):
    """A NULL build key lights nothing (a NULL word index would break the
    numpy scatter) and a NULL probe key has 0 hits, not NULL, so a
    maybe/definite-new split keeps it on one side."""
    build = spark.createDataFrame(
        [(f"key-{i}",) for i in range(50)] + [(None,)], "k string"
    )
    words, hexw = sketch.bloom_xl_build(build, "k")
    empty = sketch.bloom_bitset_words(
        spark.createDataFrame([(None,)], "k string"), "k", hexw
    )
    assert not empty.any()
    probe = spark.createDataFrame(
        [(1, "key-3"), (2, None), (3, "never-seen")], "id bigint, k string"
    )
    hits = {r.id: r.n_hits for r in sketch.bloom_hits(probe, "k", words, hexw).collect()}
    assert hits[1] == sketch.BLOOM_K and hits[2] == 0
    assert {r.id for r in sketch.bloom_xl_prune(probe, "k", words, hexw).collect()} >= {1}
    assert 2 not in {r.id for r in sketch.bloom_xl_prune(probe, "k", words, hexw).collect()}


@pytest.mark.parametrize("n", [2_000, 300_000])
def test_bloom_xl_build_sizes_from_its_first_fold(spark, monkeypatch, n):
    """The adaptive build picks ``bloom_xl_width`` of the true key count
    from the fill of one fold at ``BLOOM_XL_HEXW`` (linear counting),
    with no separate cardinality job: below the ~131k-key threshold it
    folds once, above it it refolds once at the wider slice."""
    folds = []
    fold = sketch.bloom_bitset_words

    def counted(df, key_col, hexw=sketch.BLOOM_XL_HEXW):
        folds.append(hexw)
        return fold(df, key_col, hexw)

    monkeypatch.setattr(sketch, "bloom_bitset_words", counted)
    # every key twice: duplicates light the same bits
    build = spark.range(2 * n).select(F.concat(F.lit("key-"), F.col("id") % n).alias("k"))
    words, hexw = sketch.bloom_xl_build(build, "k")
    want = sketch.bloom_xl_width(n)
    assert hexw == want == (5 if n < 131_072 else 6)
    assert folds == sorted({sketch.BLOOM_XL_HEXW, want})
    assert len(words) == (1 << (4 * hexw)) >> 6
    assert (words == fold(build, "k", hexw)).all()


def test_incremental_ingest_dedup_keeps_a_null_text_doc(spark, tmp_path):
    """A NULL-text document matches nothing in the oracle's anti-join, so
    it is kept; the Bloom-pruned plan agrees, with NULL texts on both the
    incoming and the corpus side."""

    def bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100

    inc = [i for i in range(200) if bucket(i) < 30][:6]
    corp = [i for i in range(200) if bucket(i) >= 30][:6]
    rows = [(i, f"shared text {j % 3}", "en", "s") for j, i in enumerate(inc[:4] + corp[:4])]
    rows += [(inc[4], None, "en", "s"), (corp[4], None, "fr", "s"), (inc[5], "new", "fr", "s")]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long")).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = sorted(tuple(r) for r in QUERIES["incremental_ingest_dedup"](spark, str(tmp_path)).collect())
    want = sorted(_duck(str(tmp_path)).execute(ORACLE["incremental_ingest_dedup"]).fetchall())
    assert got == want
    assert {lang: (n, k) for lang, n, k in got} == {"en": (5, 1), "fr": (1, 1)}


def test_bloom_membership_probe_side_has_no_exchange(spark):
    """The bitset reaches the probe as a scalar subquery: the probe is a
    map-side bit test with no join and no exchange; the one Exchange is
    the final ORDER BY's range partitioning."""
    plan = _formatted(QUERIES["bloom_membership_check"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Exchange") == 1
    assert "rangepartitioning(doc_id" in plan


# --- Misra-Gries -----------------------------------------------------------


def test_mg_keeps_a_bigint_key_type(spark):
    """The candidates keep the key's input type (a bigint key cannot be
    cast to a string column in the Arrow worker) and the exact answer
    follows."""
    rows = [(7,)] * 40 + [(8,)] * 30 + [(i,) for i in range(100, 130)]
    df = spark.createDataFrame(rows, "k bigint")
    cands = sketch.mg_partial_candidates(df, "k", 4)
    assert dict(cands.dtypes)["k"] == "bigint"
    got = sorted(tuple(r) for r in sketch.mg_heavy_hitters(df, "k", 4).collect())
    assert got == [(7, 40, 100), (8, 30, 100)]


def test_mg_heavy_hitters_keeps_a_null_key(spark):
    """GROUP BY ... HAVING keeps a NULL group; so does the MG plan (a
    null-safe candidate semi-join)."""
    df = spark.createDataFrame([(None,)] * 10 + [("a",)] * 3 + [("b",)], "w string")
    got = [tuple(r) for r in sketch.mg_heavy_hitters(df, "w", 3).collect()]
    assert got == [(None, 10, 14)]


# --- oracle mirrors --------------------------------------------------------


def test_vertical_tab_regex_tokens_agree_across_engines(spark, tmp_path):
    """Java's ``\\s`` matches U+000B and RE2's does not: the tokenizer
    oracles spell Java's class out, so 'a' + VT + 'b' is 2 regex tokens
    on both engines."""
    rows = [(1, "a\x0bb", "en", "s"), (2, "x, y\x0b\x0bz 42", "fr", "s")]
    _write_documents(spark, str(tmp_path), rows)
    con = _duck(str(tmp_path))
    for name in ("text_token_counts", "token_fertility_by_lang"):
        got = sorted(tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect())
        assert got == sorted(con.execute(ORACLE[name]).fetchall()), name
    got = {r.doc_id: r.re_tokens for r in QUERIES["text_token_counts"](spark, str(tmp_path)).collect()}
    assert got[1] == 2


@pytest.mark.parametrize("literal", ["generate_series(0, 3)", "% 256", "* 4 + 1"])
def test_no_oracle_spells_sketch_geometry(literal):
    """The sketch entries' oracles read the sketch module's constants
    through the oracle_sql builders; their modules hand-spell no seed
    range, width or slice offset."""
    plans = Path(__file__).resolve().parent.parent / "weather_data_ingestion_gcp_spark" / "plans"
    found = [m for m in ("audit_stats.py", "dedup_graph.py") if literal in (plans / m).read_text()]
    assert not found, found
