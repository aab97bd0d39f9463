"""Crafted-input units for the round-3b extensions:
passage dedup, shard packing, last-touch attribution, hard negatives,
and code-density counting (the KMV intersection estimate is in
test_sketch.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_passage_dedup_counts_repeated_window(spark):
    # 40 words = exactly two 20-word passages; doc 2 repeats doc 1's text
    # -> 4 passages, 2 distinct, dup_ppm = 500000.
    w20a = " ".join(f"a{i}" for i in range(20))
    w20b = " ".join(f"b{i}" for i in range(20))
    text = f"{w20a} {w20b}"
    d = _docs(
        spark,
        [
            (1, text, "en", "s1", len(text)),
            (2, text, "en", "s1", len(text)),
            (3, "short doc under twenty words", "en", "s1", 28),
        ],
    )
    from weather_data_ingestion_gcp_spark.operators import text as T

    ws = d.select("doc_id", "source", T.words(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 20
    )
    n = ws.count()
    assert n == 2  # the short doc contributes no passages
    passages = ws.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.expr("size(ws) div 20").cast("int"))).alias(
            "i"
        ),
        "ws",
    ).select(
        "source",
        F.md5(F.concat_ws(" ", F.slice(F.col("ws"), (F.col("i") - 1) * 20 + 1, 20))).alias(
            "ph"
        ),
    )
    agg = passages.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("ph").alias("d")
    ).first()
    assert (agg["n"], agg["d"]) == (4, 2)


def test_shard_pack_running_sum_boundaries(spark):
    from pyspark.sql.window import Window

    t = spark.createDataFrame(
        [(1, "s", 300), (2, "s", 300), (3, "s", 300), (4, "s", 300)],
        "doc_id long, source string, n_tokens long",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("shard", F.expr("cum_before div 400"))
    got = {r["doc_id"]: r["shard"] for r in packed.collect()}
    # cum_before: 0, 300, 600, 900 -> shards 0, 0, 1, 2
    assert got == {1: 0, 2: 0, 3: 1, 4: 2}


def test_attribution_last_touch_window_gate(spark):
    from weather_data_ingestion_gcp_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ev(eid, typ, days_off):
        return (eid, t0 + dt.timedelta(days=days_off), 1, typ)

    e = spark.createDataFrame(
        [
            ev(1, "click", -8),  # outside the 7-day window for p1
            ev(2, "click", -1),  # latest click before p1 -> attributed
            ev(3, "purchase", 0),
            ev(4, "purchase", 8),  # 9 days after click 2 -> unattributed
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    j = temporal.asof_join_backward(
        purchases, clicks, "user_id", "ts", "click_ts", ["click_id", "click_ts"],
        tiebreak="click_id",
    )
    gap = F.expr("(unix_micros(ts) - unix_micros(asof_click_ts)) div 1000000")
    ok = F.col("asof_click_ts").isNotNull() & (gap <= 7 * 24 * 3600)
    got = {
        r["event_id"]: r["attr"]
        for r in j.select(
            "event_id", F.when(ok, F.col("asof_click_id")).alias("attr")
        ).collect()
    }
    assert got == {3: 2, 4: None}


def test_hard_negatives_exclude_same_label(spark, tmp_path):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.1], 0),   # same label: must be excluded
            (2, [0.9, 0.2], 1),    # nearest cross-label
            (3, [0.0, 1.0], 1),
            (4, [-1.0, 0.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    import os

    sf = str(tmp_path)
    emb.write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))
    from weather_data_ingestion_gcp_spark.plans.embeddings import hard_negative_topk

    rows = hard_negative_topk(spark, sf).collect()
    q0 = [r for r in rows if r["q_id"] == 0]
    assert [r["n_id"] for r in q0] == [2, 3, 4]  # label-0 neighbor 1 excluded
    assert all(r["n_label"] != 0 for r in q0)


def test_code_signal_counts_exact(spark):
    d = _docs(spark, [(0, "plain words only", "en", "s", 16)])
    # doc_id 0 -> % 4 == 0 -> code snippet prepended
    from weather_data_ingestion_gcp_spark.plans.text_tokenizer import _CODE_SNIPPET, _count_lit

    injected = d.select(
        F.concat(F.lit(_CODE_SNIPPET), F.col("text")).alias("text")
    )
    r = injected.select(
        _count_lit(F.col("text"), "```").alias("fences"),
        _count_lit(F.col("text"), "\n    ").alias("indents"),
    ).first()
    assert r["fences"] == 2
    assert r["indents"] == 1


def test_triangle_counts_on_crafted_clique(spark, tmp_path):
    # 4-clique {1,2,3,4}: C(4,3)=4 triangles, each node in C(3,2)=3 of them.
    # Texts are engineered identical so minhash links every pair.
    import os

    same = " ".join(f"w{i}" for i in range(30))
    docs = [(i, same, "en", "s", len(same)) for i in (1, 2, 3, 4)]
    docs.append((9, "totally different words here entirely distinct tokens", "en", "s", 50))
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    from weather_data_ingestion_gcp_spark.plans.dedup_graph import graph_triangle_counts

    got = {r["doc_id"]: r["n_triangles"] for r in graph_triangle_counts(spark, sf).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pagerank_symmetry_and_isolation(spark, tmp_path):
    # Same fixture: the 4-clique nodes are symmetric -> equal scores,
    # strictly above the isolated node's teleport-only score.
    import os

    same = " ".join(f"w{i}" for i in range(30))
    docs = [(i, same, "en", "s", len(same)) for i in (1, 2, 3, 4)]
    docs.append((9, "totally different words here entirely distinct tokens", "en", "s", 50))
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    from weather_data_ingestion_gcp_spark.plans.dedup_graph import graph_pagerank_neardup

    rows = {r["doc_id"]: r for r in graph_pagerank_neardup(spark, sf).collect()}
    clique_scores = {rows[i]["score_nano"] for i in (1, 2, 3, 4)}
    assert len(clique_scores) == 1  # symmetric nodes agree exactly
    assert rows[9]["degree"] == 0
    assert clique_scores.pop() > rows[9]["score_nano"]


def test_winsorize_thresholds_and_clipping(spark, tmp_path):
    import os

    t0 = dt.datetime(2024, 1, 1)
    # 20 values 1.00..20.00 -> k_low = ceil(20/20) = 1 -> th_low = 100
    # cents; k_high = ceil(19*20/20) = 19 -> th_high = 1900 cents.
    rows = [(i, t0, 1, "click", float(i), "{}") for i in range(1, 21)]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path)
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    from weather_data_ingestion_gcp_spark.plans.audit_stats import winsorized_robust_stats

    r = winsorized_robust_stats(spark, sf).first()
    assert (r["th_low_cents"], r["th_high_cents"]) == (100, 1900)
    assert (r["n_clipped_low"], r["n_clipped_high"]) == (0, 1)  # only 20.00 > 19.00
    # winsorized sum: 100+...+1900 + 1900 (the clipped 2000)
    assert r["winsorized_sum_cents"] == sum(range(100, 2000, 100)) + 1900


def test_ppjoin_finds_exactly_the_high_jaccard_pair(spark, tmp_path):
    import os

    # docs 1,2 share ~all 3-gram shingles; doc 3 is disjoint.
    base = " ".join(f"w{i}" for i in range(12))
    docs = [
        (1, base, "en", "s", len(base)),
        (2, base + " extra", "en", "s", len(base) + 6),
        (3, " ".join(f"z{i}" for i in range(12)), "en", "s", 40),
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    from weather_data_ingestion_gcp_spark.plans.dedup_graph import ppjoin_prefix_similarity

    rows = ppjoin_prefix_similarity(spark, sf).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["jaccard"] >= 0.9


def test_pca_power_iteration_finds_dominant_axis(spark, tmp_path):
    import os

    # variance concentrated on dim 0 (values spread), others constant
    rows = [(i, [float(i % 7) - 3.0] + [0.25] * 7, 0) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path)
    emb.write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))
    from weather_data_ingestion_gcp_spark.plans.embeddings import pca_power_iteration

    out = {r["dim"]: r["eigvec_milli"] for r in pca_power_iteration(spark, sf).collect()}
    assert abs(out[1]) == 1000  # dim 1 (1-based) carries all variance
    assert all(abs(out[j]) < 50 for j in range(2, 9))


def test_multi_touch_credit_and_window(spark, tmp_path):
    import os

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, t0 - dt.timedelta(days=8), 1, "click", 1.0, "{}"),   # outside window
        (2, t0 - dt.timedelta(days=2), 1, "click", 1.0, "{}"),
        (3, t0 - dt.timedelta(days=1), 1, "click", 1.0, "{}"),
        (4, t0, 1, "purchase", 9.0, "{}"),
        (5, t0, 2, "purchase", 9.0, "{}"),                        # no clicks
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path)
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    from weather_data_ingestion_gcp_spark.plans.streaming_events import (
        attribution_linear_multi_touch,
    )

    got = {r["purchase_id"]: r for r in attribution_linear_multi_touch(spark, sf).collect()}
    assert set(got) == {4}  # purchase 5 has no touches -> absent
    assert got[4]["n_touches"] == 2  # click 1 outside the 7-day window
    assert got[4]["credit_ppm_each"] == 500000
    assert (got[4]["first_click_id"], got[4]["last_click_id"]) == (2, 3)


def test_dq_checks_flag_crafted_violations(spark, tmp_path):
    import os

    t0 = dt.datetime(2024, 1, 10)
    rows = [
        (1, t0, 1, "click", 1.0, "{}"),
        (1, t0, 2, "view", 2.0, "{}"),          # dup event_id
        (3, t0, None, "click", -5.0, "{}"),     # null user + negative value
        (4, dt.datetime(2030, 1, 1), 3, "weird", 1.0, "{}"),  # bad ts + type
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path)
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    from weather_data_ingestion_gcp_spark.plans.audit_stats import dq_expectation_checks

    got = {r["check_name"]: r["n_violations"] for r in dq_expectation_checks(spark, sf).collect()}
    assert got == {
        "null_user_id": 1,
        "negative_or_null_value": 1,
        "ts_out_of_range": 1,
        "unknown_event_type": 1,
        "duplicate_event_ids": 1,
    }


def test_wilson_interval_brackets_rate(spark, tmp_path):
    import os

    t0 = dt.datetime(2024, 1, 5, 10, 0, 0)
    rows = []
    eid = 0
    for u in range(20):
        rows.append((eid, t0, u, "click", 1.0, "{}")); eid += 1
    for u in range(5):  # 5/20 convert
        rows.append((eid, t0, u, "purchase", 9.0, "{}")); eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path)
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    from weather_data_ingestion_gcp_spark.plans.audit_stats import conversion_wilson_by_day

    r = conversion_wilson_by_day(spark, sf).first()
    assert (r["n_clickers"], r["n_converted"]) == (20, 5)
    assert abs(r["rate"] - 0.25) < 1e-6
    assert r["wilson_lo"] < r["rate"] < r["wilson_hi"]
    assert 0.0 <= r["wilson_lo"] and r["wilson_hi"] <= 1.0


def test_cumulative_distinct_counts_first_appearances_once(spark, tmp_path):
    import os

    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    rows = [
        (0, d1, 1, "click", 1.0, "{}"),
        (1, d1, 2, "click", 1.0, "{}"),
        (2, d2, 1, "click", 1.0, "{}"),  # returning user: not counted again
        (3, d2, 3, "click", 1.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path)
    e.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    from weather_data_ingestion_gcp_spark.plans.streaming_events import cumulative_distinct_users

    got = [(str(r["d"]), r["n_new_users"], r["cumulative_users"])
           for r in cumulative_distinct_users(spark, sf).collect()]
    assert got == [("2024-01-01", 2, 2), ("2024-01-02", 1, 3)]


def test_passage_rewrite_keeps_first_occurrence_only(spark, tmp_path):
    import os

    w20 = " ".join(f"a{i}" for i in range(20))
    tail = "unique tail words here"
    docs = [
        (1, f"{w20} {tail}", "en", "s", 1),   # first occurrence of w20
        (2, f"{w20} other ending", "en", "s", 1),  # w20 removed here
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    from weather_data_ingestion_gcp_spark.plans.dedup_graph import passage_dedup_rewrite
    import hashlib

    got = {r["doc_id"]: r for r in passage_dedup_rewrite(spark, sf).collect()}
    assert got[1]["n_removed"] == 0
    assert got[2]["n_removed"] == 1
    # doc 2's rebuilt text is just its (unique) tail passage
    assert got[2]["clean_md5"] == hashlib.md5(b"other ending").hexdigest()
    assert got[1]["clean_md5"] == hashlib.md5(f"{w20} {tail}".encode()).hexdigest()


def test_zorder_interleave_locality(spark):
    # the interleave of (u, d) = (3, 0) -> bits of u at even positions
    from pyspark.sql import functions as F
    from weather_data_ingestion_gcp_spark.plans.warehouse import _sql_interleave8

    df = spark.createDataFrame([(3, 0), (0, 3), (255, 255)], "u long, d long")
    got = [r["z"] for r in df.select(F.expr(_sql_interleave8("u", "d")).alias("z")).collect()]
    assert got[0] == 0b101          # u bits at even positions: 1+4
    assert got[1] == 0b1010         # d bits at odd positions: 2+8
    assert got[2] == 0xFFFF         # all 16 bits set
