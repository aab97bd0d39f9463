"""NDJSON landing zone — the GCS-bucket analog.

The reference lands one NDJSON file per hourly observation in a bucket
(``upload_file_to_gcs``, Load-Data-From-API/main.py:145-152,184-190) and a
GCS object-finalize event triggers the load (main.py:56-64). In Spark the
landing *directory* IS the event source: the Structured Streaming file
source discovers new files exactly once (checkpointed), replacing the whole
Pub/Sub + Cloud Functions event plumbing (SURVEY.md S7/T2).

``ingest_once`` is the S1 ingest function: fetch -> clean -> land. The HTTP
fetch is injected (tests pass a fixture loader; production passes a
``requests`` call) — the engine never hard-codes an endpoint.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators.clean import clean_weather
from ..schemas import RAW_API_SCHEMA, WEATHER_SCHEMA
from .connectors import LocalDirObjectStore, ObjectStore


def write_landing_file(
    spark: SparkSession,
    cleaned: DataFrame,
    landing_dir: "str | ObjectStore",
    stamp: str | None = None,
) -> str:
    """Land a cleaned batch as ONE NDJSON file, named like the reference's
    ``hourly-weather-data-json-{YYYYMMDD-HH:MM:SS}.json`` (main.py:184).

    One file per ingest matches the reference's one-object-per-hour layout
    and gives the streaming file source its per-file exactly-once unit.
    (At 100 TB ingest this becomes one file per task via a normal
    ``df.write.json``; the single-file path is the low-rate API-poll shape.)

    ``landing_dir`` may be an ``ObjectStore`` (the substrate seam — a
    GCS/S3 binding lands the same object with the same atomicity
    contract); a plain directory string binds the local default.
    """
    objects = (
        landing_dir
        if isinstance(landing_dir, ObjectStore)
        else LocalDirObjectStore(landing_dir)
    )
    stamp = stamp or time.strftime("%Y%m%d-%H:%M:%S")
    # the reference's names carry ":" (GCS-legal); Hadoop Path URIs reject
    # it, so the physical file uses a sanitized stamp
    stamp = stamp.replace(":", "")
    name = f"hourly-weather-data-json-{stamp}-{uuid.uuid4().hex[:8]}.json"
    # single observation batches: tiny, and a local input lands with no job
    rows = [r[0] for r in cleaned.select(F.to_json(F.struct("*"))).collect()]
    return objects.put(name, "\n".join(rows) + ("\n" if rows else ""))


def ingest_once(
    spark: SparkSession,
    fetch: Callable[[], dict],
    landing_dir: str,
    ingest_date=None,
    ingest_time=None,
    stamp: str | None = None,
) -> str:
    """One reference ingest cycle: S1 fetch -> P1-P4 clean -> S4 land."""
    payload = fetch()
    # the API sends extras the reference drops by never reading them;
    # store.rows reads only the schema's fields
    raw = store.rows(spark, [payload], RAW_API_SCHEMA)
    cleaned = clean_weather(raw, ingest_date=ingest_date, ingest_time=ingest_time)
    return write_landing_file(spark, cleaned, landing_dir, stamp=stamp)


def read_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Schema-pinned batch read of the landing dir (never inferSchema —
    the reference's schema.json is authoritative, SURVEY.md §1.3)."""
    return spark.read.schema(WEATHER_SCHEMA).json(landing_dir)


def stream_landing(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The S7 event source: new files discovered exactly once (with the
    sink's checkpoint), replacing GCS object-finalize events.
    ``max_files_per_trigger=1`` reproduces the reference's one-event-per-
    file processing grain."""
    reader = spark.readStream.schema(WEATHER_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)
