"""Streaming load+transform: the event-driven core of the reference as one
Structured Streaming query (SIGMOD'18 incremental-execution model).

Reference event plumbing -> Spark mapping (SURVEY.md §2.7):
- GCS object-finalize event per landed file (T2)  -> file source discovers
  new files; the checkpoint makes file DISCOVERY exactly-once (T7). The
  raw append is not: ``foreachBatch`` is at-least-once, and a batch that
  fails after ``append_hourly`` and before the checkpoint commit is
  replayed whole. A crash injected into ``refresh_daily`` left ``hourly``
  with 80 rows for 40 landed — the reference's T6 double-append, still
  present under a crash. Closing it takes the txn-keyed append the
  ingest-dedup and engagement sinks already use
  (``TxLogTable.append_once``) on the warehouse sink: ROADMAP.md,
  Direction 1.
- CALL transform per event (T4)                   -> foreachBatch body:
  append raw, recompute ONLY the days present in the batch, dynamic-
  partition-overwrite those days (idempotent update mode).
- success/error log publish (T9)                  -> log rows appended in
  the same batch body.
- the reference's unawaited-load race (T10)       -> gone: the body is
  sequential.

Optional hardening beyond the reference (T6): ``dedup=True`` keeps one
row per (dt, current_time, name) observation inside each batch before
it reaches the raw table — the same row whatever the input order
(``operators.dedup.one_per_key``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..jobs import WeatherWarehouse
from ..operators.dedup import one_per_key
from ..sources.landing import stream_landing


def _batch_processor(warehouse: WeatherWarehouse, dedup: bool):
    def process(batch: DataFrame, batch_id: int) -> None:
        # an empty batch is a no-op inside load_and_transform
        if dedup:
            batch = one_per_key(batch, ["dt", "current_time", "name"])
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
) -> None:
    """Synchronous catch-up run: process all landed files once and return,
    stopping the query if it has not finished within 300 s."""
    q = start_landing_stream(
        spark, landing_dir, warehouse, checkpoint_dir, available_now=True, dedup=dedup
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
