"""Streaming load+transform: the event-driven core of the reference as one
Structured Streaming query (SIGMOD'18 incremental-execution model).

Reference event plumbing -> Spark mapping (SURVEY.md §2.7):
- GCS object-finalize event per landed file (T2)  -> file source discovers
  new files; the checkpoint makes processing exactly-once per file (T7),
  strictly better than the reference's at-least-once Pub/Sub redelivery
  (its raw table double-appends on replay — T6).
- CALL transform per event (T4)                   -> foreachBatch body:
  append raw, recompute ONLY the days present in the batch, dynamic-
  partition-overwrite those days (idempotent update mode).
- success/error log publish (T9)                  -> log rows appended in
  the same batch body.
- the reference's unawaited-load race (T10)       -> gone: the body is
  sequential.

Optional hardening beyond the reference (T6): ``dedup=True`` drops
duplicate (dt, current_time, name) observations inside each batch before
they ever reach the raw table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..jobs import WeatherWarehouse
from ..sources.landing import stream_landing


def _batch_processor(warehouse: WeatherWarehouse, dedup: bool):
    def process(batch: DataFrame, batch_id: int) -> None:
        # an empty batch is a no-op inside load_and_transform
        if dedup:
            batch = batch.dropDuplicates(["dt", "current_time", "name"])
        warehouse.load_and_transform(batch)

    return process


def start_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    warehouse: WeatherWarehouse,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    dedup: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the landing-dir -> warehouse stream.

    ``available_now=True`` (tests, catch-up runs) processes everything
    currently landed then stops; pass ``processing_time="1 hour"`` for the
    reference's hourly cadence (T1) as a long-lived query.
    """
    writer = (
        stream_landing(spark, landing_dir, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(_batch_processor(warehouse, dedup))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    warehouse: WeatherWarehouse,
    checkpoint_dir: str,
    dedup: bool = False,
    timeout_sec: int = 300,
) -> None:
    """Synchronous catch-up run: process all landed files once and return."""
    q = start_landing_stream(
        spark, landing_dir, warehouse, checkpoint_dir, available_now=True, dedup=dedup
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
