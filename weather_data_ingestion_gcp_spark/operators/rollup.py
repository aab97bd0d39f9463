"""Daily rollup: the reference's flagship query.

Re-expresses the stored procedure body
(``Load-gcs-to-bq/sp_raw_to_transformed_create_weather_data_query.sql:26-55``,
identically ``sp_raw_to_transformed_update_weather_data_query.sql:6-36``) as a
single hash aggregate:

- GROUP BY dt (A1) with 16 aggregates in one pass (A6, single shuffle;
  Catalyst plans partial+final HashAggregate automatically),
- Kelvin->Celsius ``x - 273.15`` (F1) and ROUND (F2) inside the aggregate
  expressions,
- ``month = EXTRACT(MONTH FROM dt)`` (F3),
- the ``till_time`` high-watermark: ``CASE WHEN MAX(current_time) >
  '23:00:00' THEN 'EOD' ELSE MAX(current_time) END`` (F4/A5/T5) — a
  lexicographic string MAX over zero-padded "HH:mm:ss", identical semantics
  in Spark,
- no ORDER BY: the reference's ORDER BY dt is presentation-only
  (SURVEY.md 2.6), and a sort would add a range-sampling job and a shuffle
  in front of every partitioned write.

At 100 TB this is the canonical cheap query: a partial aggregate collapses
each partition to <= #days rows before the shuffle, so the exchange carries
KBs regardless of input size. No repartition hints needed — AQE coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Day-complete marker (sp_...create...sql:45-49).
EOD_THRESHOLD = "23:00:00"
KELVIN = 273.15


def daily_rollup(hourly: DataFrame) -> DataFrame:
    """hourly (WEATHER_SCHEMA) -> one row per dt (DAILY_SCHEMA)."""
    celsius = lambda c: F.col(c) - F.lit(KELVIN)  # noqa: E731  (F1)
    max_time = F.max("current_time")
    agg = hourly.groupBy("dt").agg(
        F.round(F.avg(celsius("main.temp")), 2).alias("avg_temp"),
        F.round(F.max(celsius("main.temp_max")), 2).alias("max_temp"),
        F.round(F.min(celsius("main.temp_min")), 2).alias("min_temp"),
        F.round(F.avg(celsius("main.feels_like")), 2).alias("feels_like"),
        F.round(F.avg("main.pressure"), 0).alias("avg_pressure"),
        F.max("main.pressure").cast("double").alias("max_pressure"),
        F.min("main.pressure").cast("double").alias("min_pressure"),
        F.round(F.avg("main.humidity"), 0).alias("avg_humidity"),
        F.max("main.humidity").cast("double").alias("max_humidity"),
        F.min("main.humidity").cast("double").alias("min_humidity"),
        # BigQuery resolves `clouds.ALL` case-insensitively (sql:37-39);
        # Spark's default spark.sql.caseSensitive=false matches (F8).
        F.round(F.avg("clouds.all"), 0).alias("avg_cloud_coverage"),
        F.max("clouds.all").cast("double").alias("max_cloud_coverage"),
        F.min("clouds.all").cast("double").alias("min_cloud_coverage"),
        F.max("rain.rain_1h").alias("max_rain_1h"),  # null-ignoring MAX (A3)
        F.max("rain.rain_3h").alias("max_rain_3h"),
        F.month("dt").cast("long").alias("month"),
        F.when(max_time > EOD_THRESHOLD, F.lit("EOD")).otherwise(max_time).alias("till_time"),
    )
    cols = [
        "avg_temp", "max_temp", "min_temp", "feels_like",
        "avg_pressure", "max_pressure", "min_pressure",
        "avg_humidity", "max_humidity", "min_humidity",
        "avg_cloud_coverage", "max_cloud_coverage", "min_cloud_coverage",
        "max_rain_1h", "max_rain_3h", "dt", "month", "till_time",
    ]
    return agg.select(*cols)
