"""Keyed MERGE (upsert) over a partitioned parquet table.

The reference's only upsert is day-scoped delete+insert
(sp_raw_to_transformed_update_weather_data_query.sql:2-5 — S12). This
generalizes it to MERGE-INTO semantics on plain parquet, the way an engine
without a transaction log does it safely at 100 TB:

1. collect the partition values present in the updates (metadata-scale);
2. read ONLY those partitions of the target (partition-pruned scan);
3. anti-join out the updated keys, union the updates;
4. dynamic-partition-overwrite exactly those partitions.

Cost is O(size of touched partitions), never a full-table rewrite, and
concurrent readers of untouched partitions see no change (the same
pruning contract Delta's MERGE compiles to on partition predicates).

Constraint (documented, asserted): a key's partition value must be stable
across versions — a key that moves partitions would leave its old row
behind in a partition this job never reads. Date-keyed facts satisfy this
by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_partitioned(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> list[str]:
    """MERGE ``updates`` into the parquet table at ``table_path``:
    rows matching on ``key_cols`` are replaced, new keys inserted.
    Returns the partition values rewritten.
    """
    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry partition column {partition_col!r}")

    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]

    if not _exists(spark, table_path):
        updates.write.mode("overwrite").partitionBy(partition_col).parquet(table_path)
        return sorted(str(p) for p in parts)

    current = (
        spark.read.parquet(table_path)
        .filter(F.col(partition_col).isin(parts))
        # partition-column type inference may widen the stored value (e.g.
        # "2024-01-01" → DATE); align with the incoming updates' type so the
        # union doesn't silently coerce
        .withColumn(
            partition_col,
            F.col(partition_col).cast(updates.schema[partition_col].dataType),
        )
        .select(*updates.columns)  # column order parity for the union
    )
    survivors = current.join(
        updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    )
    merged = survivors.unionByName(updates)
    # one output file per partition unless the data demands more: the
    # rewritten partitions are exactly the small "hot" set
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(table_path)
    )
    return sorted(str(p) for p in parts)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    eff_date: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2: apply ``updates`` (key + new
    attribute values, effective ``eff_date``) to a versioned dimension,
    KEEPING history — the audited alternative to the reference's
    delete+insert overwrite (S12): instead of destroying the old row,
    the open version is closed out (``valid_to`` = effective date) and a
    new open version is appended.

    Change detection is null-safe inequality on the tracked attributes —
    a no-op update (same values) produces NO new version, so reruns and
    full-snapshot feeds don't inflate history. All joins key on the
    dimension key: one hash partitioning serves the change-detection
    join and the anti-join; history rows (already closed) pass through
    untouched with no join at all. Returns the full new history
    (closed rows + unchanged open rows + closed-out rows + new
    versions)."""
    open_rows = dim.filter(F.col("valid_to").isNull())
    closed_rows = dim.filter(F.col("valid_to").isNotNull())
    upd = updates.select(key_col, *[F.col(c).alias(f"_u_{c}") for c in attr_cols])
    joined = open_rows.join(upd, key_col)
    diff = None
    for c in attr_cols:
        d = ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
        diff = d if diff is None else (diff | d)
    changed = joined.filter(diff)
    closed_out = changed.select(*dim.columns).withColumn(
        "valid_to", F.lit(eff_date).cast("date")
    )
    new_rows = changed.select(
        key_col,
        *[F.col(f"_u_{c}").alias(c) for c in attr_cols],
        F.lit(eff_date).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    ).select(*dim.columns)
    open_unchanged = open_rows.join(
        changed.select(key_col), key_col, "left_anti"
    )
    return (
        closed_rows.unionByName(open_unchanged)
        .unionByName(closed_out)
        .unionByName(new_rows)
    )


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(p)
