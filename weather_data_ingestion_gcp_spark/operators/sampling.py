"""Deterministic sampling operators for training-data pipelines.

At 100 TB, `df.sample()` is the wrong tool when runs must be reproducible
and join-stable across retries/engines: its output depends on partition
layout and RNG seeds. These operators derive the sampling decision from a
content hash of a key column instead — any engine, any partitioning, any
day produces the same sample. All expressions are built-in (JVM, codegen);
the hash-bucket predicate pushes below joins and survives AQE re-planning.

Reference analog: the reference pipeline has no sampling (SURVEY.md §2.4
"Not present"); these are the §2.8 north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import store


def hex_int(md5_col: Column, start: int = 1, width: int = 4) -> Column:
    """Integer value (long) of ``width`` hex digits of the md5 hex column
    ``md5_col`` starting at 1-based ``start``. Only string slicing and
    base conversion, so every SQL dialect computes the same integer
    (DuckDB mirror: plans.oracle_sql.hex_sql); NULL stays NULL."""
    return F.conv(F.substring(md5_col, start, width), 16, 10).cast("long")


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Stable bucket in [0, n_buckets) from the md5 of the key's string
    form. Uses only arithmetic on the first 4 hex chars so the identical
    computation is expressible in any SQL dialect (no engine-native hash).
    """
    return (hex_int(F.md5(key.cast("string"))) % n_buckets).alias("bucket")


def sub_block(key: Column, n_col: str, cap: int) -> Column:
    """Capped sub-block of a row whose block holds ``n_col`` rows: the
    md5-hex4 integer of the key (as :func:`hash_bucket`) modulo
    ceil(n/cap), an integer ceil-div (float division + cast could round
    at scale). A block at or under ``cap`` is one sub-block, 0; a larger
    one splits into deterministic sub-blocks of about ``cap`` rows. DuckDB
    mirror: plans.oracle_sql.sub_block_sql."""
    n_sub = F.expr(f"(`{n_col}` + {cap - 1}) div {cap}")
    return hex_int(F.md5(key.cast("string"))) % n_sub


def bernoulli_hash_sample(df: DataFrame, key_col: str, fraction_pct: int) -> DataFrame:
    """Keep rows whose hash bucket < fraction_pct — a deterministic
    Bernoulli sample at a fraction_pct percent rate. A pure filter: no
    shuffle, pushes into the scan's data-filter stage."""
    return df.filter(hash_bucket(F.col(key_col)) < fraction_pct)


def stratified_quota(
    df: DataFrame, strata_col: str, key_col: str, quota: int
) -> DataFrame:
    """At most ``quota`` rows per stratum, chosen by hash order of the key
    (deterministic, selection-bias-free). One shuffle on the stratum key;
    Spark plans a WindowGroupLimit that stops ranking past the quota
    instead of fully sorting each stratum."""
    order = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(order, key_col)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)
        .drop("rn")
    )


def weighted_sample_topk(df: DataFrame, key_col: str, weight_col: str, k: int) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the A-ES key trick
    (Efraimidis & Spirakis, IPL 2006): score every row u^(1/w) with u a
    hash-derived uniform in (0,1), keep the k largest scores. Inclusion
    probability is proportional to weight; determinism comes from the
    md5-uniform (no RNG, engine/partitioning/retry-stable — the same
    property as hash_bucket). The plan is TakeOrderedAndProject: each
    partition keeps its local top-k, the driver merges k-sized heaps —
    no global sort, no shuffle of the data itself. ``weight_col`` must
    be > 0.

    The selection key is QUANTIZED (6 decimals, then ``key_col``
    tiebreak): pow() is libm-dependent, and two engines' last-ulp
    disagreements flip the k-th-place ordering once enough keys bunch
    near 1.0 (observed at sf0.1 between Spark/JVM and DuckDB). Rounding
    the comparator makes the SELECTED SET a platform-invariant function
    of the data — for a sampling operator, cross-engine reproducibility
    is worth the (sub-1e-6) weighting granularity it costs."""
    hex4 = hex_int(F.md5(F.col(key_col).cast("string")))
    u = (hex4 + 0.5) / 65536.0
    skey = F.round(F.pow(u, F.lit(1.0) / F.col(weight_col)), 6)
    return (
        df.withColumn("sample_key", skey)
        .orderBy(F.desc("sample_key"), key_col)
        .limit(k)
    )


def dataset_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    rates_pct: dict[str, int],
) -> DataFrame:
    """Weighted dataset mixing: keep each group at its configured rate
    (the corpus-composition knob of a training-data pipeline — e.g.
    up/down-weighting languages or sources to a target mixture); a group
    absent from ``rates_pct`` is dropped.

    The per-group rate rides a tiny broadcast dimension joined on the
    group key — the same routing-map shape as the reference's
    FILE_TABLE_MAP lookup (P9) — and membership is the deterministic
    hash bucket of ``key_col``: re-running, re-partitioning, or
    re-ingesting never changes which rows are kept, and a group's kept
    set at 30% is a SUBSET of its kept set at 50% (nested samples, so
    mixtures can be re-tuned without resampling churn)."""
    rates = store.rows(
        df.sparkSession,
        [(g, int(p)) for g, p in sorted(rates_pct.items())],
        f"{group_col} string, _keep_pct int",
    )
    return (
        df.join(F.broadcast(rates), group_col, "left")
        .withColumn("_keep_pct", F.coalesce("_keep_pct", F.lit(0)))
        .filter(hash_bucket(F.col(key_col)) < F.col("_keep_pct"))
        .drop("_keep_pct")
    )


#: The one eval split, by hash bucket, read by every decontamination
#: entry and by the DuckDB oracles (plans/oracle_sql.py): test is buckets
#: [0, TEST_PCT), holdout the next HOLDOUT_PCT, train the rest.
TEST_PCT = 10
HOLDOUT_PCT = 5
TRAIN_FROM = TEST_PCT + HOLDOUT_PCT


def in_test_split(key_col: str) -> Column:
    """Whether ``key_col`` falls in the eval split's test buckets."""
    return hash_bucket(F.col(key_col)) < TEST_PCT


def in_train_split(key_col: str) -> Column:
    """Whether ``key_col`` falls in the eval split's train buckets."""
    return hash_bucket(F.col(key_col)) >= TRAIN_FROM


def train_test_split(df: DataFrame, key_col: str) -> DataFrame:
    """Adds a ``split`` column (train/test/holdout) from the key hash.
    Membership is a function of the key alone — re-ingesting a document
    never migrates it across splits (the leakage guarantee)."""
    b = hash_bucket(F.col(key_col))
    split = (
        F.when(b < TEST_PCT, F.lit("test"))
        .when(b < TRAIN_FROM, F.lit("holdout"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)
