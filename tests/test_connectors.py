"""Storage-connector seam tests (SURVEY §2.1 substrate replacement).

The jobs layer must route EVERY physical read/write through the
``TableStorage`` interface — that is what makes the GCS/BigQuery
substrate claim architectural (swap the binding, not the jobs). A
recording proxy wraps the default parquet binding and asserts each
warehouse job touches storage only through the seam; the ObjectStore
test pins the atomic-put landing contract.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.jobs import WeatherWarehouse
from weather_data_ingestion_gcp_spark.schemas import WEATHER_SCHEMA
from weather_data_ingestion_gcp_spark.sources.connectors import (
    LocalDirObjectStore,
    ParquetTableStorage,
    TableStorage,
)
from weather_data_ingestion_gcp_spark.sources.landing import write_landing_file
from tests.conftest import hourly_rows


class RecordingStorage(TableStorage):
    """Delegates to the parquet binding, records every seam call."""

    def __init__(self, spark, root):
        self.inner = ParquetTableStorage(spark, root)
        self.calls: list[tuple] = []

    def exists(self, table):
        self.calls.append(("exists", table))
        return self.inner.exists(table)

    def append(self, df, table, partition_by):
        self.calls.append(("append", table, tuple(partition_by)))
        self.inner.append(df, table, partition_by)

    def overwrite_partitions(self, df, table, partition_by):
        self.calls.append(("overwrite", table, tuple(partition_by)))
        self.inner.overwrite_partitions(df, table, partition_by)

    def read(self, spark, table, schema=None):
        self.calls.append(("read", table))
        return self.inner.read(spark, table, schema=schema)

    def drop_partition(self, table, spec):
        self.calls.append(("drop_partition", table, spec))
        return self.inner.drop_partition(table, spec)


def test_warehouse_jobs_route_through_storage_seam(spark, tmp_path):
    storage = RecordingStorage(spark, str(tmp_path / "wh"))
    wh = WeatherWarehouse(spark, str(tmp_path / "wh"), storage=storage)
    batch = spark.createDataFrame(hourly_rows(days=2), WEATHER_SCHEMA)

    wh.load_and_transform(batch)
    ops = {c[0] for c in storage.calls}
    assert ("append", "hourly", ("dt",)) in storage.calls
    assert ("overwrite", "daily", ("part_month", "dt")) in storage.calls
    # the success log record is an object, not a table row
    assert wh.read_logs().count() == 1
    assert not any(c[1] == "logs" for c in storage.calls)

    # retention drops partitions only via the seam
    days = sorted({r["dt"] for r in hourly_rows(days=2)})
    dropped = wh.cleanup_hourly(
        retention_days=0, today=days[-1] + dt.timedelta(days=1)
    )
    assert sorted(dropped) == [str(d) for d in days]
    assert all(
        any(c == ("drop_partition", "hourly", f"dt={d}") for c in storage.calls)
        for d in days
    )
    assert ops <= {"exists", "append", "overwrite", "read", "drop_partition"}

    # and the result is byte-identical to the default binding: the daily
    # table reads back with the expected day count
    assert wh.read_daily().count() == 2


def test_warehouse_default_binding_unchanged(spark, tmp_path):
    """No storage argument -> parquet binding, same behavior as before."""
    wh = WeatherWarehouse(spark, str(tmp_path / "wh"))
    assert isinstance(wh.storage, ParquetTableStorage)
    batch = spark.createDataFrame(hourly_rows(days=1), WEATHER_SCHEMA)
    wh.load_and_transform(batch)
    assert wh.read_daily().count() == 1


def test_object_store_landing_atomic_put(spark, tmp_path):
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    df = spark.createDataFrame(hourly_rows(days=1), WEATHER_SCHEMA)
    path = write_landing_file(spark, df, store, stamp="20220701-23:00:05")
    assert path.startswith(store.uri())
    assert "20220701-230005" in path
    # no tmp residue — the put is atomic (rename) for the local binding
    names = os.listdir(store.uri())
    assert len(names) == 1 and not names[0].endswith(".tmp")
    with open(path) as f:
        assert len([ln for ln in f if ln.strip()]) == df.count()


def test_object_store_put_hides_partial_file(tmp_path, monkeypatch):
    """A put that dies before its rename leaves nothing a Spark file
    index would list: the partial object's name starts with '.'."""
    store = LocalDirObjectStore(str(tmp_path / "bucket"))

    def fail(src, dst):
        raise OSError("rename failed")

    monkeypatch.setattr(os, "rename", fail)
    with pytest.raises(OSError):
        store.put("a.json", "{}\n")
    visible = [
        f for _, _, fs in os.walk(store.uri()) for f in fs
        if not f.startswith((".", "_"))
    ]
    assert visible == []


def test_object_store_put_creates_nested_dirs(tmp_path):
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    path = store.put("k=v/j=w/part-0.json", '{"a": 1}\n')
    assert path == str(tmp_path / "bucket" / "k=v" / "j=w" / "part-0.json")
    with open(path) as f:
        assert f.read() == '{"a": 1}\n'
