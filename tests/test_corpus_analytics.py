"""Unit tests for the round-3 corpus-health analytics: Misra-Gries heavy
hitters, repetition gates, Zipf fit, anomaly z-scores (known tiny inputs;
the sf-scale cross-engine equivalence is covered by the oracle gate)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators import sketch
from weather_data_ingestion_gcp_spark.plans import QUERIES


# ---------------------------------------------------------------------------
# Misra-Gries
# ---------------------------------------------------------------------------


def _stream(spark, counts: dict[str, int], partitions: int):
    rows = [(w,) for w, c in counts.items() for _ in range(c)]
    return spark.createDataFrame(rows, "w string").repartition(partitions)


def test_mg_exact_heavy_hitters_skewed(spark):
    # hot=60, warm=25, plus 15 singletons; n=100.  k=5 -> bar is 20.
    counts = {"hot": 60, "warm": 25, **{f"r{i}": 1 for i in range(15)}}
    df = _stream(spark, counts, partitions=4)
    out = {r.w: r.exact_count for r in sketch.mg_heavy_hitters(df, "w", 5).collect()}
    assert out == {"hot": 60, "warm": 25}


@pytest.mark.parametrize("partitions", [1, 3, 7])
def test_mg_result_partition_invariant(spark, partitions):
    # the candidate SET varies with partitioning; the final exact answer
    # must not (the superset guarantee makes phase 2 partition-free)
    counts = {"a": 40, "b": 30, "c": 20, **{f"x{i}": 1 for i in range(10)}}
    df = _stream(spark, counts, partitions)
    out = {r.w for r in sketch.mg_heavy_hitters(df, "w", 4).collect()}
    assert out == {"a", "b"}  # bar n/k = 100/4 = 25: a(40), b(30); c(20) misses


def test_mg_bar_is_strict(spark):
    # frequency EXACTLY n/k is not a heavy hitter (count*k > n is strict)
    counts = {"a": 25, "b": 25, "c": 25, "d": 25}
    df = _stream(spark, counts, 2)
    assert sketch.mg_heavy_hitters(df, "w", 4).count() == 0


def test_mg_candidates_bounded_and_superset(spark):
    counts = {"hot": 50, **{f"r{i}": 1 for i in range(50)}}
    df = _stream(spark, counts, partitions=5)
    cands = {r.w for r in sketch.mg_partial_candidates(df, "w", 3).collect()}
    assert len(cands) <= 5 * 3
    assert "hot" in cands  # global heavy hitter always survives


def test_mg_empty_input(spark):
    df = spark.createDataFrame([], "w string")
    assert sketch.mg_heavy_hitters(df, "w", 5).count() == 0


# ---------------------------------------------------------------------------
# Plan-level checks on crafted tiny tables
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    """Mini documents+events parquet dir with hand-computable statistics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = tmp_path_factory.mktemp("tiny")
    docs = pa.table(
        {
            "doc_id": pa.array([0, 1], type=pa.int64()),
            # doc 0: "a a a b" -> top uni 3/4, top bi "a a" 2/3 (repetitive)
            # doc 1: 21 distinct words -> top bi 1/20 = 50000 ppm (clean)
            "text": ["a a a b", " ".join(f"w{i}" for i in range(21))],
            "lang": ["en", "en"],
            "source": ["s1", "s2"],
            "n_chars": pa.array([7, 7], type=pa.int64()),
        }
    )
    pq.write_table(docs, str(dst / "documents.parquet"))
    # one event type, 5 days: values 1.00 x4 and one 100.00 spike
    days = [dt.datetime(2024, 1, d + 1, 12, 0) for d in range(5)]
    vals = [1.0, 1.0, 1.0, 1.0, 100.0]
    events = pa.table(
        {
            "event_id": pa.array(range(5), type=pa.int64()),
            "ts": pa.array(days, type=pa.timestamp("us")),
            "user_id": pa.array([7] * 5, type=pa.int64()),
            "event_type": ["click"] * 5,
            "value": pa.array(vals, type=pa.float64()),
            "props": ["{}"] * 5,
        }
    )
    pq.write_table(events, str(dst / "events.parquet"))
    return str(dst)


def test_gopher_repetition_known_values(spark, tiny_dir):
    rows = {
        r.doc_id: r for r in QUERIES["gopher_repetition_flags"](spark, tiny_dir).collect()
    }
    assert rows[0].top_uni_n == 3 and rows[0].n_words == 4
    assert rows[0].top_uni_ppm == 750000
    assert rows[0].top_bi_n == 2 and rows[0].top_bi_ppm == 666666
    assert rows[0].repetitive is True
    assert rows[1].top_uni_n == 1 and rows[1].top_bi_ppm == 50000
    assert rows[1].repetitive is False


def test_anomaly_zscore_flags_spike(spark, tiny_dir):
    rows = QUERIES["event_anomaly_zscore"](spark, tiny_dir).collect()
    assert len(rows) == 5
    by_day = {r.day.day: r for r in rows}
    assert by_day[5].is_anomaly is True  # the 100.00 spike
    assert all(not by_day[d].is_anomaly for d in (1, 2, 3, 4))
    assert by_day[1].avg_milli == 1000  # 1.00 -> exact milli units


def test_heavy_hitters_plan_matches_exact(spark, tiny_dir):
    out = {r.w: r.exact_count for r in QUERIES["heavy_hitters_mg"](spark, tiny_dir).collect()}
    # corpus: a:3 b:1 w0..w20:1 (n=25, k=30 -> bar <1): every word qualifies
    assert out["a"] == 3 and len(out) == 23
    assert all(c == 1 for w, c in out.items() if w != "a")


def test_centroid_cosine_bounds(spark):
    out = QUERIES["label_centroid_cosine"](spark, "/root/testdata/sf0.001").collect()
    assert out, "expected at least one label pair"
    for r in out:
        assert -1000000 <= r.cos_ppm <= 1000000
        assert r.label_a < r.label_b


def test_zipf_slope_negative_on_real_distribution(spark):
    rows = QUERIES["zipf_slope_by_source"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    # rank-frequency slopes are non-positive by construction (freq sorted desc)
    assert all(r.slope_centi <= 0 for r in rows)


# ---------------------------------------------------------------------------
# BPE merge learning
# ---------------------------------------------------------------------------


def test_bpe_merges_hand_computed(spark):
    from weather_data_ingestion_gcp_spark.operators import bpe

    wf = spark.createDataFrame([("aaab", 2), ("aab", 1)], "w string, n long")
    rows = bpe.bpe_learn_merges(wf, "w", "n", n_merges=5).collect()
    got = [(r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count) for r in rows]
    # round 1: (a,a) -> 2*2 + 1 = 5; round 2: tie (a,b)=2 vs (aa,a)=2,
    # lexicographic tiebreak picks 'a'; rounds 3-4 collapse the rest;
    # round 5 finds no pair left -> early stop at 4 merges
    assert got == [
        (1, "a", "a", "aa", 5),
        (2, "a", "b", "ab", 2),
        (3, "aa", "ab", "aaab", 2),
        (4, "aa", "b", "aab", 1),
    ]


def test_bpe_empty_input(spark):
    from weather_data_ingestion_gcp_spark.operators import bpe

    wf = spark.createDataFrame([], "w string, n long")
    assert bpe.bpe_learn_merges(wf, "w", "n", n_merges=3).count() == 0


def test_bpe_single_char_words_no_pairs(spark):
    from weather_data_ingestion_gcp_spark.operators import bpe

    wf = spark.createDataFrame([("a", 10), ("b", 4)], "w string, n long")
    assert bpe.bpe_learn_merges(wf, "w", "n", n_merges=3).count() == 0


# ---------------------------------------------------------------------------
# SemDedup-style semantic pruning
# ---------------------------------------------------------------------------


def test_semantic_prune_keeps_lowest_id(spark):
    from weather_data_ingestion_gcp_spark.operators import similarity

    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)  # orthogonal to e1
    rows = [(0, e1), (1, e1), (2, e2), (3, e1)]  # 0,1,3 identical
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    bands = similarity.random_hyperplane_bands(emb)
    out = {
        r.vec_id: r
        for r in similarity.semantic_dedup_prune(
            emb, bands, max_bucket_size=4, tau=0.9
        ).collect()
    }
    assert out[0].kept is True and out[0].n_near == 2
    assert out[1].kept is False  # identical, higher id than 0
    assert out[3].kept is False
    assert out[2].kept is True and out[2].n_near == 0


def test_leakage_safe_split_never_splits_a_cluster(spark):
    rows = QUERIES["split_leakage_safe"](spark, "/root/testdata/sf0.001").collect()
    by_comp: dict[int, set] = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values())
    splits = {r.split for r in rows}
    assert splits == {"train", "test"}
