"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus DuckDB oracle SQL.

Contract (driver): the Spark result and the oracle SQL result must match on
row count, schema (column names), and an order-insensitive value hash with
columns sorted by name — so every computed column is aliased identically on
both sides, aggregate outputs are cast to the same logical type DuckDB
produces (e.g. DuckDB SUM(BIGINT) -> cast both to BIGINT), and floating
aggregates are rounded on both sides to keep the hash stable across the two
engines' accumulation orders.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
#: query -> the session relations it shares (``register(shares=...)``)
SHARES: dict[str, tuple[str, ...]] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def type_class(type_name: str) -> str:
    """Coarse logical-type class shared by the parity harness and the
    registry contract test. The driver canonicalizes Spark and DuckDB
    results independently before hashing, so a column whose *class*
    differs between the two engines (DuckDB HUGEINT/decimal128 vs Spark
    BIGINT/int64 was round 1-3's only red driver row) hash-mismatches
    even when every value is numerically identical. Widths within a
    class (INT vs BIGINT) canonicalize identically and are allowed.
    """
    t = type_name.strip().upper()
    if t.startswith("DECIMAL") or t == "HUGEINT" or t == "UHUGEINT":
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT", "LONG",
             "BYTE", "SHORT", "UTINYINT", "USMALLINT", "UINTEGER",
             "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("VARCHAR", "STRING", "TEXT", "CHAR", "BPCHAR", "JSON"):
        # DuckDB's JSON logical type is utf8 at the arrow/value level.
        return "string"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t in ("BOOLEAN", "BOOL"):
        return "bool"
    if t in ("BLOB", "BINARY", "BYTEA", "VARBINARY"):
        return "binary"
    if t.endswith("[]") or t.startswith("ARRAY") or t.startswith("LIST"):
        return "array"
    if t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    return t.lower()


def register(name: str, oracle: str | None = None, shares: tuple[str, ...] = ()):
    """Register a query; ``oracle`` is the DuckDB-equivalent ANSI SQL
    (omit only for genuinely non-SQL-expressible ops -> weaker rows-only
    driver check). ``shares`` names the session relations the query
    reuses with others; sharers run next to each other in the suite
    (``plans/__init__.py``)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        if shares:
            SHARES[name] = tuple(shares)
        return fn

    return deco


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table. Plain columnar scan —
    filters/projections applied downstream push into this scan
    (PushedFilters / ReadSchema), so no eager caching here.

    The events table stores TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; read nanos as long and floor-convert to microseconds
    (integer division — double division would lose precision at 1e18),
    matching DuckDB's own nanos->micros truncation.

    The handle is memoized per (session, sf dir, table) in the session
    store (``store.handle``); it pins the file listing taken at first
    read, fine for the immutable driver sf dirs. A caller reading a
    directory it mutates mid-session uses ``_load_table_uncached``.
    """
    return store.handle(
        spark, ("table", name), sf_dir,
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Parquet timestamp[us] without timezone reads as TIMESTAMP_NTZ
            # in Spark 4; functions like unix_micros require TIMESTAMP, so
            # normalize once here (session tz is pinned to UTC, so the cast
            # is a pure type relabel — wall-clock values are unchanged and
            # DuckDB oracles see identical epochs).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def std_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized verified near-dup pairs at the STANDARD
    parameters (word-3-gram shingles, the dedup module's MinHash-LSH
    geometry, no bucket cap) over the full documents table —
    the one graph 13 registered entries analyze (dedup_minhash_lsh,
    dedup_clusters, the graph analytics, lsh_recall_contract, the
    curation/pretrain composites, ...). Round-13 opt (guide §2.4):
    before this memo each entry re-ran the LSH verify pipeline per
    invocation — execution shared the shingle/signature caches but the
    candidate join + Jaccard verify re-executed every time (~0.5-1.2 s
    warm per entry). One persisted (id_a, id_b, jaccard) relation —
    O(near-dup pairs), far below corpus size, the same
    ``store.shared`` discipline as the SNM pair relation — makes
    every later consumer a cache read. Consumers apply their own
    projections/rounding; content is byte-identical to the per-entry
    pipelines it replaces (same operator, same parameters).

    The memo value is the lineage-truncated relation (``store.truncate``),
    stored once: without the cut, every one of the 13 consumers embedded
    the FULL shingle->signature->band->verify lineage in its compiled
    tree. The shingle/wide relations the build keeps as a side effect
    still seed the canonical-plan sharers (minhash_estimate_contract,
    ppjoin ground truth, decontaminate_test_split)."""
    return _minhash_pairs(spark, sf_dir, "std_minhash_pairs_tri8", shingle_n=3)


def capped_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized verified near-dup pairs at the CAPPED production
    parameters (unigram shingles, the dedup module's MinHash-LSH
    geometry, bucket cap 50) — the scale-safe edge source three entries
    derive from (``dedup_minhash_lsh_capped``,
    ``graph_pagerank_neardup_capped``, ``graph_triangle_counts_capped``).
    Round-14 opt (guide §2.4, the ``std_minhash_pairs`` discipline,
    VERDICT-r13 #1): before this memo each of the three re-ran the
    capped LSH candidate join + Jaccard verify per invocation (the
    shingle cache was shared, the verify was not), and the two graph
    entries additionally paid a construction-time lineage
    checkpoint of the full capped lineage EACH — the suite executed the
    capped verify pipeline three times. One persisted, lineage-truncated
    (id_a, id_b, jaccard) relation — O(capped near-dup pairs), linear in
    corpus size at the fixed bucket cap — makes the later two consumers
    leaf reads. Consumers apply their own projections/rounding; content
    is byte-identical to the per-entry pipelines it replaces (same
    operator, same parameters)."""
    return _minhash_pairs(
        spark, sf_dir, "capped_minhash_pairs_uni8", shingle_n=1, max_bucket_size=50
    )


def _minhash_pairs(spark: SparkSession, sf_dir: str, key: str, **params) -> DataFrame:
    from ..operators import dedup

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return store.truncate(
            dedup.minhash_near_duplicates(d, "doc_id", "text", **params)
        )

    return store.shared(spark, key, sf_dir, build)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every driver table as a temp view so callers can speak raw
    Spark SQL — the reference's own query interface is SQL (stored
    procedures handed to BigQuery, Load-gcs-to-bq/main.py:86-92), so the
    engine keeps a SQL-first entry point alongside the DataFrame API."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Register views, then run one ANSI-SQL query against them."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


#: deterministic sample rate CAP for the sampled accuracy contracts
#: (percent of md5-hex4 doc_id buckets)
_SAMPLE_PCT = 20
#: absolute sample-size target: the rate shrinks so the sampled
#: sub-corpus stays ~this many docs once the corpus outgrows
#: TARGET/PCT% — the round-7 100x-probe finding: a PROPORTIONAL sample
#: keeps quadratic ground truths growing; an accuracy contract is a
#: statistical property, so a fixed-size sample estimates it just as
#: unbiasedly at constant cost. Lives here so any plan module can build
#: sampled contracts.
_SAMPLE_TARGET_DOCS = 10_000


def _sample_pct(n_docs: int, cap_pct: int = _SAMPLE_PCT) -> int:
    """min(cap_pct, ceil(TARGET/n) in percent) — integer arithmetic
    only, mirrored verbatim by oracle_sql.sampled_docs_sql.

    ``cap_pct=20`` (default): the recall contract's shape — never more
    than a 20% sample even on tiny corpora (its PPJoin ground truth is
    quadratic in the sample).
    ``cap_pct=100``: absolute-target-only — FULL corpus until it
    outgrows ~TARGET docs, then shrinking toward the target. The
    estimate contract uses this so driver-SF outputs stay the complete
    (and plan-identical, cache-sharing) full-corpus measurement while
    probe scales engage the sample."""
    if n_docs <= 0:
        return cap_pct
    return min(
        cap_pct, (100 * _SAMPLE_TARGET_DOCS + n_docs - 1) // n_docs
    )


def _cents():
    """Per-row exact integer cents of the 2-decimal money double ``value``.

    SUM over doubles accumulates in engine- and partitioning-specific
    order, so rounding the raw double sum can flip a half-cent boundary
    between Spark and the DuckDB oracle (or between two Spark
    partitionings — the driver's sessionize_events red row in round 2).
    The generator emits exact 2-decimal values, so quantizing each row
    to BIGINT cents first makes the sum exact and order-free; the single
    final division by 100.0 is identical IEEE arithmetic everywhere.
    Oracle mirror: ``SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0``.
    """
    return F.round(F.col("value") * 100, 0).cast("long")


def _nano_ln(c: Column) -> Column:
    """round(ln(x) * 1e9) as BIGINT — the quantization unit every weight
    term passes through before any cross-term arithmetic."""
    return F.round(F.log(c.cast("double")) * 1_000_000_000, 0).cast("long")
