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
- ``logs/``    — op-log records, one NDJSON object each under log_type=/
  message_type= (Load-logs/main.py:48-50), put through ``ObjectStore``
  whatever the table binding: the reference logs to a bucket.

Sequencing note: the reference submits the BigQuery load job and CALLs the
transform without awaiting the load (T10 race, Load-gcs-to-bq/main.py:79-92);
here append-then-refresh is sequential by construction — an intentional fix.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from . import store
from .operators.rollup import daily_rollup
from .schemas import DAILY_SCHEMA, LOG_SCHEMA, WEATHER_SCHEMA
from .sources.connectors import LocalDirObjectStore, ParquetTableStorage, TableStorage


#: the daily table as stored: DAILY_SCHEMA plus its month partition column
_STORED_DAILY = StructType([*DAILY_SCHEMA.fields, StructField("part_month", DateType())])

#: the characters Spark's writer escapes as %XX in a partition directory
#: name (ExternalCatalogUtils.escapePathName)
_PATH_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?[\\]^{\x7f")


def _partition_dir(col: str, value: str | None) -> str:
    """``col=value`` named as a ``partitionBy`` write names it."""
    esc = "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value or "")
    return f"{col}={esc or '__HIVE_DEFAULT_PARTITION__'}"


class WeatherWarehouse:
    """Tables go through the ``TableStorage`` seam — the default is the
    partitioned-parquet binding, and a BigQuery-backed implementation
    (the reference's actual substrate, Load-gcs-to-bq/main.py:71-84)
    slots in via the ``storage`` argument without touching this class
    (see sources/connectors.py). Op-log records go through the
    ``ObjectStore`` seam, as objects under ``logs_path``."""

    def __init__(self, spark: SparkSession, root: str,
                 storage: TableStorage | None = None):
        self.spark = spark
        self.root = root
        self.storage = storage or ParquetTableStorage(spark, root)
        self.hourly_path = os.path.join(root, "hourly")
        self.daily_path = os.path.join(root, "daily")
        self.logs_path = os.path.join(root, "logs")
        self.log_store = LocalDirObjectStore(self.logs_path)

    # -- raw layer ----------------------------------------------------------

    def append_hourly(self, batch: DataFrame) -> None:
        """S8: append-load into the raw table (WRITE_APPEND,
        Load-gcs-to-bq/main.py:77), day-partitioned."""
        self.storage.append(batch, "hourly", ["dt"])

    def read_hourly(self) -> DataFrame:
        if not self.storage.exists("hourly"):
            return store.rows(self.spark, [], WEATHER_SCHEMA)
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
        # the stored schema, so the read infers nothing from parquet footers
        daily = self.storage.read(self.spark, "daily", schema=_STORED_DAILY)
        return daily.drop("part_month")

    # -- retention ------------------------------------------------------------

    def cleanup_hourly(self, retention_days: int = 15, today: dt.date | None = None) -> list[str]:
        """S13/T8: DELETE WHERE dt <= today - retention_days
        (Cleanup-job/sp_raw_cleanup_15days_older_data_query.sql:2).

        The drop itself is per day partition (what Delta's DELETE on a
        partition predicate compiles to), never a rewrite of kept rows. To
        find the days, though, it reads ``dt`` from the hourly table and
        collects its distinct values: two Spark jobs that open every
        hourly file, whatever the number of days dropped.
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

    def compact_hourly(self) -> None:
        """Small-file compaction: the hourly layer accretes one file per
        landed batch per day; at 100 TB that is millions of KB-files whose
        open/footer cost dominates scans. Rewrite each day partition in one
        pass: repartition by dt clusters each day into one task, and the
        dynamic partition overwrite replaces each day's files with it."""
        self.storage.overwrite_partitions(
            self.read_hourly().repartition("dt"), "hourly", ["dt"]
        )

    # -- log sink ---------------------------------------------------------------

    def log(self, **fields) -> None:
        """S5/S15: one op-log record -> one NDJSON object, no Spark job
        (MESSAGE_DATA template, Load-Data-From-API/main.py:32-38; sink
        Load-logs/main.py:48-50). It is laid out as a JSON
        ``partitionBy("log_type", "message_type")`` write lays out a row:
        partition values in the path, NULL fields omitted."""
        now = dt.datetime.now().strftime("%Y%m%d-%H:%M:%S")
        record = {"project": "local", "service": "spark-job", "runtime": now, **fields}
        row = {f.name: record.get(f.name) for f in LOG_SCHEMA.fields}
        parts = [_partition_dir(c, row.pop(c)) for c in ("log_type", "message_type")]
        body = json.dumps({k: v for k, v in row.items() if v is not None})
        self.log_store.put("/".join([*parts, f"part-{uuid.uuid4()}.json"]), body + "\n")

    def read_logs(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).json(self.logs_path)

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

