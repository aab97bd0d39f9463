"""Streaming throughput: rate source -> event-time tumbling-window count
with watermark, measured in rows/sec of sustained processing.

This is the sustained-ingest number a capacity plan needs: how many
events/sec one node pushes through a watermarked windowed aggregation
(the §2.7 T3 shape under continuous arrival instead of file batches;
perfbench's ``ingest_backfill`` times the file-batch load path). The
rate source is
Spark's built-in backpressure-free generator, so the measurement is the
aggregation pipeline, not a source bottleneck.

Usage: python tools/bench_streaming_rate.py [rows_per_sec] [run_secs]
Prints one JSON line: {"metric": "streaming_rate_throughput", ...}
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path


def main() -> int:
    rows_per_sec = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    run_secs = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from pyspark.sql import functions as F

    from weather_data_ingestion_gcp_spark.session import get_spark

    spark = get_spark(
        "bench-streaming-rate",
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_sec))
        .option("numPartitions", "8")
        .load()
    )
    # T3 shape: event-time tumbling window + watermark, per-key counts.
    agg = (
        src.withWatermark("timestamp", "10 seconds")
        .groupBy(
            F.window("timestamp", "5 seconds").alias("w"),
            (F.col("value") % 100).alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
    )
    ckpt = tempfile.mkdtemp()
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.time()
    time.sleep(run_secs)
    progress = q.recentProgress
    q.stop()
    q.awaitTermination(60)

    # steady-state rate: drop the first batch (JVM/stream warmup)
    rates = [p["processedRowsPerSecond"] for p in progress[1:] if p["numInputRows"]]
    batches = [p["numInputRows"] for p in progress if p["numInputRows"]]
    out = {
        "metric": "streaming_rate_throughput",
        "value": round(sum(rates) / max(len(rates), 1), 1),
        "unit": "rows/sec",
        "offered_rows_per_sec": rows_per_sec,
        "batches": len(batches),
        "total_rows": sum(batches),
        "wall_s": round(time.time() - t0, 1),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
