"""Storage connector seam — the substrate the warehouse jobs write through.

The reference talks to two managed substrates: a GCS bucket for landed
NDJSON objects (Load-Data-From-API/main.py:145-152 ``upload_file_to_gcs``,
bucket ensure at main.py:139-143) and BigQuery tables for the warehouse
(Load-gcs-to-bq/main.py:71-84 ``client.load_table_from_uri`` +
WRITE_APPEND). This engine replaces both with Spark-native equivalents —
a directory the Structured-Streaming file source watches, and a
partitioned parquet warehouse — but the replacement is ARCHITECTURAL,
not hard-coded: jobs depend on the two small interfaces below, and the
local-filesystem implementations are just the default bindings.

Swapping substrates is a constructor argument:

- **Object store**: any Hadoop-FS URI scheme works unchanged (``gs://``,
  ``s3a://``, ``abfss://`` …) because ``ObjectStore`` deals in URIs and
  the Spark file source/sink resolves the scheme through the Hadoop
  connector on the classpath. ``LocalDirObjectStore`` binds it to a
  plain directory for this sandbox.
- **Table storage**: ``ParquetTableStorage`` implements the warehouse
  contract (append, dynamic-partition overwrite, metadata-only partition
  drop, existence probe) on parquet directories.
  ``BigQueryTableStorage`` (below) implements the same five methods
  over the public ``spark-bigquery-connector`` surface — appends via
  the Storage Write API, partition replacement via the connector's
  ``datePartition`` single-partition overwrite, partition drop via
  ``$YYYYMMDD`` partition-decorator deletes through an injected
  client — so the jobs layer runs unchanged. No connector jar or GCP
  credentials exist in this sandbox, so its contract test drives the
  identical invocation chain against a registered stand-in Python data
  source implementing the connector subset
  (``tests/test_bigquery_binding.py``).
"""

from __future__ import annotations

import abc
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ObjectStore(abc.ABC):
    """Where landed files live. URI-oriented: implementations return
    paths/URIs that Spark's readers resolve via Hadoop-FS."""

    @abc.abstractmethod
    def ensure(self) -> None:
        """Create the bucket/container/directory if absent (the
        reference's create-bucket-on-first-use, main.py:139-143)."""

    @abc.abstractmethod
    def uri(self, name: str = "") -> str:
        """Absolute URI/path for an object name (empty = the root)."""

    @abc.abstractmethod
    def put(self, name: str, data: str) -> str:
        """Atomically write one object (the reference's
        ``blob.upload_from_filename``, main.py:145-152) and return its
        URI. Atomic means a reader (the streaming file source) never
        observes a partial object — native for real object stores,
        tmp-file + rename for the local binding."""


class LocalDirObjectStore(ObjectStore):
    """Default binding: a local directory is the bucket."""

    def __init__(self, root: str):
        self.root = root

    def ensure(self) -> None:
        os.makedirs(self.root, exist_ok=True)

    def uri(self, name: str = "") -> str:
        return os.path.join(self.root, name) if name else self.root

    def put(self, name: str, data: str) -> str:
        self.ensure()
        path = self.uri(name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(data)
        os.rename(tmp, path)  # readers never see partial files
        return path


class TableStorage(abc.ABC):
    """The five storage operations the warehouse jobs need. Table names
    are logical (``hourly``, ``daily``, ``logs``); implementations map
    them to physical locations/datasets."""

    @abc.abstractmethod
    def exists(self, table: str) -> bool: ...

    @abc.abstractmethod
    def append(self, df: DataFrame, table: str, partition_by: list[str],
               fmt: str = "parquet") -> None: ...

    @abc.abstractmethod
    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        """Replace exactly the partitions present in ``df`` (the
        delete+insert upsert of sp_...update...sql:2-36)."""

    @abc.abstractmethod
    def read(self, spark: SparkSession, table: str, schema=None,
             fmt: str = "parquet") -> DataFrame: ...

    @abc.abstractmethod
    def drop_partition(self, table: str, spec: str) -> bool:
        """Metadata-only drop of one partition (``dt=2024-01-01``);
        returns whether it existed. The S13 retention DELETE."""


class ParquetTableStorage(TableStorage):
    """Default binding: one partitioned parquet (or json, for the log
    sink) directory per table under a warehouse root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path(table))
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def append(self, df: DataFrame, table: str, partition_by: list[str],
               fmt: str = "parquet") -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(fmt).save(self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )

    def read(self, spark: SparkSession, table: str, schema=None,
             fmt: str = "parquet") -> DataFrame:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format(fmt).load(self.path(table))

    def drop_partition(self, table: str, spec: str) -> bool:
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            os.path.join(self.path(table), spec)
        )
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
            return True
        return False


class BigQueryTableStorage(TableStorage):
    """The warehouse contract over the public spark-bigquery-connector
    (the substrate the reference actually writes to:
    Load-gcs-to-bq/main.py:71-84 ``load_table_from_uri`` + WRITE_APPEND;
    partition-scoped delete+insert in sp_...update...sql:2-36; row DELETE
    by date in Cleanup-job/sp_...sql:2).

    Mapping of the five seam methods onto public connector/API surface:

    - ``append`` -> ``df.write.format("bigquery").option("table",
      "<project>.<dataset>.<table>").mode("append")`` with the Storage
      Write API (``writeMethod=direct`` — no staging bucket needed).
      Date-typed partition columns become BigQuery DAY column
      partitioning (``partitionField``/``partitionType``); non-date
      partition_by columns become ``clusteredFields`` (BigQuery cannot
      column-partition on strings — the reference's log table is in
      practice ingestion-time partitioned).
    - ``overwrite_partitions`` -> one connector write per distinct day
      with ``datePartition=YYYYMMDD`` + ``mode("overwrite")`` — the
      connector's documented single-partition replace. Each day lands
      atomically (BigQuery job-level atomicity per partition); cross-day
      atomicity matches the reference's stored procedure, which also
      replaces day by day.
    - ``read`` -> ``spark.read.format("bigquery").option("table", …)``;
      BigQuery's catalog schema is authoritative, so a passed ``schema``
      is not re-applied.
    - ``exists`` / ``drop_partition`` -> the connector has no DDL
      surface; these go through an injected ``client`` with the
      ``google.cloud.bigquery.Client`` shape (``get_table``,
      ``delete_table``). ``drop_partition`` deletes the partition
      decorator ``table$YYYYMMDD`` — BigQuery's metadata-only partition
      drop, the exact analog of the parquet binding's directory delete.
      Without a client, ``exists`` falls back to a read probe.

    ``format_name`` exists so the identical invocation chain can be
    exercised against a registered stand-in Python data source where the
    real connector jar / GCP credentials are unavailable (the contract
    test does exactly that); production code leaves it ``"bigquery"``.
    """

    def __init__(self, spark: SparkSession, project: str, dataset: str,
                 format_name: str = "bigquery", client=None,
                 write_method: str = "direct"):
        self.spark = spark
        self.project = project
        self.dataset = dataset
        self.format_name = format_name
        self.client = client
        self.write_method = write_method

    def table_ref(self, table: str) -> str:
        return f"{self.project}.{self.dataset}.{table}"

    @staticmethod
    def _yyyymmdd(day) -> str:
        s = str(day)
        digits = s.replace("-", "")
        if len(digits) != 8 or not digits.isdigit():
            raise ValueError(f"not a DAY partition value: {day!r}")
        return digits

    def _writer(self, df: DataFrame, table: str):
        return (
            df.write.format(self.format_name)
            .option("table", self.table_ref(table))
            .option("writeMethod", self.write_method)
        )

    @staticmethod
    def _is_not_found(exc: Exception) -> bool:
        """Absence-shaped errors only. A transient 503/auth failure must
        NOT read as 'table absent' — exists() feeding overwrite_partitions
        would then silently append instead of replace, duplicating rows.
        The exception TYPE is checked first (google.api_core's NotFound,
        Python's FileNotFoundError); the message markers are narrow
        phrases, deliberately NOT bare status codes like '404' which can
        appear inside request ids / URLs of transient errors."""
        if isinstance(exc, FileNotFoundError):
            return True
        if "notfound" in type(exc).__name__.lower():
            return True
        s = str(exc).lower()
        return any(
            marker in s
            for marker in (
                "not found", "does not exist", "no such file",
                "table_or_view_not_found", "path_not_found",
                "path does not exist",
            )
        )

    def exists(self, table: str) -> bool:
        if self.client is not None:
            try:
                self.client.get_table(self.table_ref(table))
                return True
            except Exception as exc:
                if self._is_not_found(exc):
                    return False
                raise  # transient/auth errors surface, never read as absence
        try:  # no client: a schema probe is the cheapest read-side check
            self.read(self.spark, table).schema
            return True
        except Exception as exc:
            if self._is_not_found(exc):
                return False
            raise

    def append(self, df: DataFrame, table: str, partition_by: list[str],
               fmt: str = "parquet") -> None:
        # fmt is a file-format concept; BigQuery stores rows natively.
        w = self._writer(df, table).mode("append")
        if partition_by:
            part_col = partition_by[-1]
            part_type = dict(
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ).get(part_col)
            if part_type == "date":
                w = (
                    w.option("partitionField", part_col)
                    .option("partitionType", "DAY")
                )
                if len(partition_by) > 1:
                    # BigQuery supports clustering alongside column
                    # partitioning: the leading layout columns (e.g. the
                    # daily table's part_month) become clustered fields
                    # so their pruning grain survives the binding swap
                    w = w.option(
                        "clusteredFields", ",".join(partition_by[:-1])
                    )
            else:
                w = w.option("clusteredFields", ",".join(partition_by))
        w.save()

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        # BigQuery's single-partition replace only exists for DAY column
        # partitioning — loudly refuse layouts this substrate cannot
        # replace at partition grain (the parquet/txlog bindings can;
        # silently appending here would duplicate rows instead)
        part_col = partition_by[-1]
        part_type = dict(
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ).get(part_col)
        if part_type != "date":
            raise NotImplementedError(
                f"BigQuery partition overwrite needs a DAY-partitioned "
                f"layout; {part_col!r} is {part_type} — use append(), or "
                f"a DELETE+append through the client"
            )
        if not self.exists(table):
            self.append(df, table, partition_by)
            return
        # The plan behind df may be arbitrarily expensive and is consumed
        # once per distinct day below (plus the key collects) — persist
        # for the duration instead of recomputing it D+2 times
        df = df.persist()
        try:
            # bounded collect: distinct days in the batch (the same
            # key-list the txlog binding derives)
            days = [r[0] for r in df.select(part_col).distinct().collect()]
            if any(d is None for d in days):
                # NULL days land in BigQuery's __NULL__ partition, which
                # the datePartition option cannot address — refuse rather
                # than replace the wrong partition
                raise ValueError(
                    f"NULL {part_col} in overwrite batch for {table!r}: "
                    f"the datePartition replace cannot address the NULL "
                    f"partition"
                )
            if len(partition_by) > 1:
                # The seam contract is TUPLE-grain (replace exactly the
                # (leading…, day) combinations in df); BigQuery's
                # datePartition replace is DAY-grain. If the table holds
                # leading-column values for these days that the batch
                # does not carry, a day overwrite would silently delete
                # them — refuse loudly instead. (Layouts whose leading
                # columns are derived from the date, like the daily
                # table's part_month, always pass this check.)
                lead = partition_by[:-1]
                table_tuples = {
                    tuple(r)
                    for r in self.read(self.spark, table)
                    .filter(F.col(part_col).isin(days))
                    .select(*lead, part_col)
                    .distinct()
                    .collect()
                }
                batch_tuples = {
                    tuple(r)
                    for r in df.select(*lead, part_col).distinct().collect()
                }
                lost = table_tuples - batch_tuples
                if lost:
                    raise ValueError(
                        f"day-grain overwrite of {table!r} would drop "
                        f"existing {lead} combinations not present in "
                        f"the batch: {sorted(lost, key=str)[:5]} — "
                        f"include those rows or use a row-grained binding"
                    )
            for d in sorted(days, key=str):
                (
                    self._writer(
                        df.filter(F.col(part_col) == F.lit(d)), table
                    )
                    .option("datePartition", self._yyyymmdd(d))
                    .mode("overwrite")
                    .save()
                )
        finally:
            df.unpersist()

    def read(self, spark: SparkSession, table: str, schema=None,
             fmt: str = "parquet") -> DataFrame:
        return (
            spark.read.format(self.format_name)
            .option("table", self.table_ref(table))
            .load()
        )

    def drop_partition(self, table: str, spec: str) -> bool:
        if self.client is None:
            raise NotImplementedError(
                "partition drop needs a bigquery.Client (the connector "
                "has no DDL surface)"
            )
        _col, _, val = spec.partition("=")
        ref = f"{self.table_ref(table)}${self._yyyymmdd(val)}"
        try:
            self.client.delete_table(ref)
            return True
        except Exception as exc:
            # mirror exists(): only absence-shaped errors read as "partition
            # absent" — a transient 503/auth failure must surface, or
            # cleanup_hourly would silently under-report retention drops
            if self._is_not_found(exc):
                return False
            raise
