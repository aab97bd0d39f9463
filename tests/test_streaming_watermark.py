"""T6 hardening beyond the reference: event-time watermark + windowed
aggregation and in-stream dedup. The reference has NO late/duplicate
handling (Pub/Sub redelivery double-appends, SURVEY.md T6); these show the
Spark-native mechanisms the engine adds."""

from __future__ import annotations

import json


EVENTS_SCHEMA = "user_id BIGINT, ts TIMESTAMP, value DOUBLE, eid STRING"


def _land(tmp_path, name: str, rows) -> None:
    import os
    import time

    p = tmp_path / "in" / name
    p.parent.mkdir(exist_ok=True)
    p.write_text(
        "\n".join(
            json.dumps({"user_id": u, "ts": t, "value": v, "eid": e}) for u, t, v, e in rows
        )
        + "\n"
    )
    # file source batches in modification-time order; make it explicit
    n_existing = len(list(p.parent.iterdir()))
    mtime = time.time() + n_existing * 10
    os.utime(p, (mtime, mtime))


def test_windowed_agg_with_watermark_drops_too_late_events(spark, tmp_path):
    from pyspark.sql import functions as F

    # batch 1: events up to 12:00 -> watermark computed from this batch is
    # 11:50, but Spark applies it to LATE-ROW FILTERING only from the batch
    # after next (the filter uses the previous batch's committed watermark)
    _land(
        tmp_path,
        "b1.json",
        [
            (1, "2024-01-01 10:01:00", 1.0, "a"),
            (1, "2024-01-01 10:04:00", 2.0, "b"),
            (1, "2024-01-01 12:00:00", 4.0, "c"),
        ],
    )
    # batch 2: mildly-late event inside the watermark -> kept
    _land(tmp_path, "b2.json", [(1, "2024-01-01 11:55:00", 8.0, "e")])
    # batch 3: 2h-late event (10:02 vs committed watermark 11:50) -> dropped
    _land(tmp_path, "b3.json", [(1, "2024-01-01 10:02:00", 100.0, "d")])
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "total", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM win_agg").collect()
    latest = {}
    for r in rows:  # update mode re-emits windows; keep the last emission
        latest[str(r.start)] = (r.total, r.n)
    # 10:00 window: the 100.0 two-hours-late event was DROPPED -> stays 3.0
    assert latest["2024-01-01 10:00:00"] == (3.0, 2)
    # the within-watermark event was kept
    assert latest["2024-01-01 11:55:00"] == (8.0, 1)


def test_drop_duplicates_within_watermark(spark, tmp_path):
    _land(
        tmp_path,
        "b1.json",
        [
            (1, "2024-01-01 10:00:00", 1.0, "x"),
            (1, "2024-01-01 10:00:30", 9.0, "y"),
        ],
    )
    _land(
        tmp_path,
        "b2.json",
        [
            (1, "2024-01-01 10:00:00", 1.0, "x"),  # redelivered duplicate
            (1, "2024-01-01 10:02:00", 5.0, "z"),
        ],
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["eid"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.eid for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == ["x", "y", "z"]  # the redelivered "x" was dropped across batches


def test_session_window_emits_closed_sessions(spark, tmp_path):
    """Built-in session_window + watermark: append mode emits a session
    only after the watermark passes its gap-extended end."""
    from pyspark.sql import functions as F

    _land(tmp_path, "b1.json", [
        (1, "2024-01-01 10:00:00", 1.0, "a"),
        (1, "2024-01-01 10:10:00", 2.0, "b"),
    ])
    # far-future events advance the watermark past session 1's close…
    _land(tmp_path, "b2.json", [(1, "2024-01-01 15:00:00", 5.0, "c")])
    # …and a third batch gives the evictor a run with that watermark
    _land(tmp_path, "b3.json", [(1, "2024-01-01 15:01:00", 6.0, "d")])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    sessions = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("start"), "total", "n")
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {str(r.start): (r.total, r.n) for r in spark.sql("SELECT * FROM sessions_out").collect()}
    # the 10:00 session (2 events merged by the 30-min gap) closed and emitted;
    # the 15:00 session is still open -> absent from append output
    assert got == {"2024-01-01 10:00:00": (3.0, 2)}


def test_streaming_bloom_prune_is_stateless_mapside(spark, tmp_path):
    """The broadcast-bloom prefilter composes with Structured Streaming
    unchanged: bloom_xl_prune is a stateless map-side filter (bitset in
    a scalar subquery, bit arithmetic per row), so pruning a stream of
    incoming documents against a static corpus bloom needs no state
    store and no watermark — the streaming twin of
    decontaminate_bloom_prefilter's train-side prune."""
    import json as _json

    from pyspark.sql import functions as F
    from weather_data_ingestion_gcp_spark.operators import sketch

    corpus = spark.range(500).select(
        F.concat(F.lit("doc text "), F.col("id")).alias("text")
    )
    words = sketch.bloom_bitset_words(corpus, "text")

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    rows = [{"doc": f"doc text {i}"} for i in range(400, 600)]
    (src_dir / "batch0.json").write_text(
        "\n".join(_json.dumps(r) for r in rows)
    )
    stream = spark.readStream.schema("doc string").json(str(src_dir))
    pruned = sketch.bloom_xl_prune(stream, "doc", words)
    q = (
        pruned.writeStream.format("memory")
        .queryName("bloom_pruned")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc"] for r in spark.sql("SELECT doc FROM bloom_pruned").collect()}
    member = {f"doc text {i}" for i in range(400, 500)}
    assert member <= got, "no false negatives on the stream"
    assert len(got) <= 110, "non-members must be pruned map-side"
