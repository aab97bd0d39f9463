"""spread_small (round-13 optimization): size-gated deterministic
repartition that parallelizes scan-side per-row work over the driver's
single-row-group parquet inputs, and stays out of the way at scale."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators import layout
from weather_data_ingestion_gcp_spark.operators.layout import (
    _input_bytes,
    spread_small,
)


def _write(tmp_path, spark, n=1000):
    p = str(tmp_path / "t.parquet")
    spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_spread_small_repartitions_below_cap(spark, tmp_path):
    df = _write(tmp_path, spark)
    out = spread_small(df, "id")
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # content identical, order aside
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b


def test_spread_small_is_identity_above_cap(spark, tmp_path, monkeypatch):
    df = _write(tmp_path, spark)
    monkeypatch.setattr(layout, "SPREAD_MAX_BYTES", 1)
    assert spread_small(df, "id") is df


def test_spread_small_is_identity_when_not_file_backed(spark):
    df = spark.range(10)
    # spark.range has no input files -> size unknowable -> untouched
    assert spread_small(df, "id") is df


def test_spread_small_is_deterministic(spark, tmp_path):
    """Hash partitioning on a real column (never rand): the same row
    lands in the same partition on every evaluation (SPARK-38388)."""
    df = _write(tmp_path, spark)
    out = spread_small(df, "id").withColumn("p", F.spark_partition_id())
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b


def test_input_bytes_matches_disk(spark, tmp_path):
    df = _write(tmp_path, spark)
    files = [f[len("file:"):] for f in df.inputFiles()]
    assert _input_bytes(df) == sum(os.path.getsize(f) for f in files)
