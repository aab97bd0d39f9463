"""Warehouse jobs: the reference's four Cloud Functions as Spark batch jobs
over a partitioned parquet warehouse.

Layout (all paths under one warehouse root):
- ``hourly/``  — raw observations, **partitioned by dt** (the reference
  leaves its raw table unpartitioned, Load-gcs-to-bq/main.py:74-77; at the
  100 TB design point day-partitioning is what makes the daily rollup, the
  day-scoped refresh, and retention all partition-pruned / metadata-only).
- ``daily/``   — the rollup, partitioned by (month, dt): month preserves
  the reference's PARTITION BY DATE_TRUNC(dt, MONTH) grain
  (sp_...create...sql:22-23) for month-range scans, the nested dt level
  gives the delete-today-+-reinsert upsert (sp_...update...sql:2-5) exact
  per-day dynamic-partition-overwrite semantics.
- ``logs/``    — op log rows, partitioned log_type/message_type
  (Load-logs/main.py:48-50).

Sequencing note: the reference submits the BigQuery load job and CALLs the
transform without awaiting the load (T10 race, Load-gcs-to-bq/main.py:79-92);
here append-then-refresh is sequential by construction — an intentional fix.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .operators.rollup import daily_rollup
from .schemas import LOG_SCHEMA, WEATHER_SCHEMA
from .sources.connectors import ParquetTableStorage, TableStorage


class WeatherWarehouse:
    """Jobs depend only on the ``TableStorage`` seam — the default is the
    partitioned-parquet binding, and a BigQuery-backed implementation
    (the reference's actual substrate, Load-gcs-to-bq/main.py:71-84)
    slots in via the ``storage`` argument without touching this class
    (see sources/connectors.py)."""

    def __init__(self, spark: SparkSession, root: str,
                 storage: TableStorage | None = None):
        self.spark = spark
        self.root = root
        self.storage = storage or ParquetTableStorage(spark, root)
        self.hourly_path = os.path.join(root, "hourly")
        self.daily_path = os.path.join(root, "daily")
        self.logs_path = os.path.join(root, "logs")

    # -- raw layer ----------------------------------------------------------

    def append_hourly(self, batch: DataFrame) -> None:
        """S8: append-load into the raw table (WRITE_APPEND,
        Load-gcs-to-bq/main.py:77), day-partitioned."""
        self.storage.append(batch, "hourly", ["dt"])

    def read_hourly(self) -> DataFrame:
        if not self.storage.exists("hourly"):
            return self.spark.createDataFrame([], WEATHER_SCHEMA)
        # dt is the partition column — Spark matches it by name in the schema
        return self.storage.read(self.spark, "hourly", schema=WEATHER_SCHEMA)

    # -- daily layer ----------------------------------------------------------

    def refresh_daily(self, dates: list[dt.date] | None = None) -> None:
        """S10/S11/S12: recompute the daily rollup.

        - first call (table absent) = the CREATE stored procedure: full
          history (sp_...create...sql:24-55);
        - later calls = the UPDATE procedure: recompute only the affected
          days and dynamic-partition-overwrite exactly those (month, dt)
          partitions — the delete+insert upsert without a DELETE-capable
          format (sp_...update...sql:2-36).
        """
        hourly = self.read_hourly()
        if dates is not None and self.storage.exists("daily"):
            hourly = hourly.filter(F.col("dt").isin(list(dates)))
        out = daily_rollup(hourly).withColumn("part_month", F.trunc("dt", "month"))
        # dynamic overwrite: only the written (month, dt) days are replaced
        self.storage.overwrite_partitions(out, "daily", ["part_month", "dt"])

    def read_daily(self) -> DataFrame:
        return self.storage.read(self.spark, "daily").drop("part_month")

    # -- retention ------------------------------------------------------------

    def cleanup_hourly(self, retention_days: int = 15, today: dt.date | None = None) -> list[str]:
        """S13/T8: DELETE WHERE dt <= today - retention_days
        (Cleanup-job/sp_raw_cleanup_15days_older_data_query.sql:2).

        Day-partitioned raw layer makes this a metadata-only partition drop
        (what Delta's DELETE on a partition predicate compiles to) — O(days
        dropped), never a 100 TB rewrite.
        """
        today = today or dt.date.today()
        cutoff = today - dt.timedelta(days=retention_days)
        dropped = []
        hourly = self.read_hourly()
        old = [r.dt for r in hourly.select("dt").distinct().collect() if r.dt <= cutoff]
        for day in old:
            if self.storage.drop_partition("hourly", f"dt={day}"):
                dropped.append(str(day))
        return dropped

    def compact_hourly(self, dates: list[dt.date] | None = None) -> None:
        """Small-file compaction: the hourly layer accretes one file per
        landed batch per day; at 100 TB that is millions of KB-files whose
        open/footer cost dominates scans. Rewrite each (selected) day
        partition in one pass: repartition by dt clusters each day into one
        task, dynamic partition overwrite swaps only the rewritten days —
        concurrent readers of other days are untouched."""
        hourly = self.read_hourly()
        if dates is not None:
            hourly = hourly.filter(F.col("dt").isin(list(dates)))
        self.storage.overwrite_partitions(hourly.repartition("dt"), "hourly", ["dt"])

    # -- log sink ---------------------------------------------------------------

    def log(self, **fields) -> None:
        """S5/S15: structured op-log row -> partitioned log table
        (MESSAGE_DATA template, Load-Data-From-API/main.py:32-38; sink
        partitioning Load-logs/main.py:48-50)."""
        base = {f.name: None for f in LOG_SCHEMA.fields}
        base.update(
            project="local",
            service="spark-job",
            runtime=dt.datetime.now().strftime("%Y%m%d-%H:%M:%S"),
        )
        base.update(fields)
        # Arrow-built: a list-built frame re-serializes through Python workers
        row_df = self.spark.createDataFrame(
            pa.Table.from_pylist([base], schema=to_arrow_schema(LOG_SCHEMA))
        )
        self.storage.append(
            row_df, "logs", ["log_type", "message_type"], fmt="json"
        )

    def read_logs(self) -> DataFrame:
        return self.storage.read(self.spark, "logs", schema=LOG_SCHEMA, fmt="json")

    # -- the load+transform entry point (main_gcs analog) ---------------------

    def load_and_transform(self, batch: DataFrame) -> None:
        """Entry point 2 (Load-gcs-to-bq/main.py:56-110): append raw, then
        refresh exactly the affected days, then log — sequential, fixing the
        reference's unawaited-load race (T10); errors become error-log rows
        (P16) and re-raise.

        Data-level errors (a corrupt NDJSON line parses to an all-null row
        under PERMISSIVE mode — null ``dt`` being the tell, since every
        valid ingest stamps it) are quarantined: counted into an error-log
        row instead of polluting the warehouse with a null partition.
        """
        try:
            # one aggregate yields emptiness (an empty batch writes and
            # logs nothing), the quarantine count and the affected days
            rows_by_day = {r["dt"]: r["count"] for r in batch.groupBy("dt").count().collect()}
            if not rows_by_day:
                return
            n_corrupt = rows_by_day.pop(None, 0)
            if n_corrupt:
                self.log(
                    log_type="bq-load-logging",
                    message_type="error",
                    process="load_and_transform",
                    message=f"quarantined {n_corrupt} corrupt row(s) (null dt)",
                )
                batch = batch.filter(F.col("dt").isNotNull())
            self.append_hourly(batch)
            dates = list(rows_by_day)
            self.refresh_daily(dates)
            self.log(
                log_type="bq-load-logging",
                message_type="success",
                process="load_and_transform",
                message=f"loaded {len(dates)} day(s)",
            )
        except Exception as exc:
            self.log(
                log_type="bq-load-logging",
                message_type="error",
                process="load_and_transform",
                message=str(exc)[:1000],
            )
            raise

