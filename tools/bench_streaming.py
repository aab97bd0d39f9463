"""Streaming load-path latency: land N daily files, run the landing stream
with one-file-per-batch triggers, report per-batch wall clock (the analog
of the reference's per-event Cloud Function latency, SURVEY.md section 6).

Usage: python tools/bench_streaming.py [n_files]
Prints one JSON line: {"metric": "streaming_batch_latency", ...}
"""

from __future__ import annotations

import datetime as dt
import json
import sys
import tempfile
import time
from pathlib import Path


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 8

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from pyspark.sql import functions as F

    from tests.conftest import hourly_rows
    from weather_data_ingestion_gcp_spark.jobs import WeatherWarehouse
    from weather_data_ingestion_gcp_spark.schemas import WEATHER_SCHEMA
    from weather_data_ingestion_gcp_spark.session import get_spark
    from weather_data_ingestion_gcp_spark.sources.landing import write_landing_file
    from weather_data_ingestion_gcp_spark.streaming.pipeline import start_landing_stream

    spark = get_spark("bench-streaming", extra_confs={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp()
    landing = f"{root}/landing"
    wh = WeatherWarehouse(spark, f"{root}/wh")

    rows = hourly_rows(days=1, partial_last_day=False)
    base_day = dt.date(2022, 7, 1)
    df = spark.createDataFrame(rows, WEATHER_SCHEMA)
    for i in range(n_files):
        day = base_day + dt.timedelta(days=i)
        shifted = df.withColumn("dt", F.lit(day.isoformat()).cast("date"))
        write_landing_file(spark, shifted, landing, stamp=f"{day:%Y%m%d}-230005")

    t0 = time.time()
    # one file per micro-batch, mirroring the reference's per-event grain
    q = start_landing_stream(
        spark, landing, wh, f"{root}/ckpt", available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(600)
    total = time.time() - t0
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    durations = [p["batchDuration"] / 1000.0 for p in batches]

    print(
        json.dumps(
            {
                "metric": "streaming_batch_latency",
                "value": round(sum(durations) / max(len(durations), 1), 3),
                "unit": "sec/batch",
                "batches": len(batches),
                "total_sec": round(total, 3),
                "rows": wh.read_hourly().count(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
