"""Audit and statistics queries: percentiles, sketches (HLL, KMV, Bloom,
Count-Min, Misra-Gries) with their accuracy contracts, histograms,
profiling and data-quality expectations, robust statistics, correlation
and regression, distribution-drift tests (KS, Mann-Whitney, PSI,
chi-square, Benford) and the privacy audits (k-anonymity, l-diversity,
t-closeness).

Hash discipline: every float aggregate is summed over integer-quantized
terms or is a single IEEE expression over exact-integer aggregates written
identically on both sides; ratios are FLOOR'd ppm BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import sketch, text
from ..operators.layout import spread_small
from ..operators.sampling import hash_bucket, hex_int
from ..operators.text import words as text_words
from .oracle_sql import (
    bloom_positions_sql,
    countmin_sql,
    fingerprint_sql,
    hash_bucket_sql,
    hex_sql,
    kmv_sql,
    words_sql,
)
from .registry import _cents, _nano_ln, load_table, register


# ---------------------------------------------------------------------------
# Exact percentiles — the beyond-reference stats surface (SURVEY §2.4 notes
# the reference has no percentiles). Exact interpolated percentile matches
# DuckDB's quantile_cont formula.
# ---------------------------------------------------------------------------
@register(
    "percentile_stats",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(MIN(value), 4) AS vmin,
           ROUND(MAX(value), 4) AS vmax
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.min("value"), 4).alias("vmin"),
            F.round(F.max("value"), 4).alias("vmax"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Approximate percentile — same contract pattern as approx_distinct_users:
# the sketch estimate (KLL/GK-style, engine-specific) is checked against
# exact rank bounds, and the ORACLE pins the verdict TRUE. percentile_approx
# with accuracy=1000 has rank error <= 0.1%; the contract grants +-5% rank
# slack (exact p45..p55 / p90..p99 value bounds), so a real regression in
# the sketch flips the flag and fails the hash compare.
# ---------------------------------------------------------------------------
@register(
    "approx_percentile_contract",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4)  AS exact_p50,
           ROUND(quantile_cont(value, 0.95), 4) AS exact_p95,
           TRUE AS p50_within, TRUE AS p95_within
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.expr("percentile_approx(value, 0.5, 1000)").alias("a50"),
        F.expr("percentile_approx(value, 0.95, 1000)").alias("a95"),
        F.expr("percentile(value, 0.5)").alias("x50"),
        F.expr("percentile(value, 0.95)").alias("x95"),
        F.expr("percentile(value, 0.45)").alias("lo50"),
        F.expr("percentile(value, 0.55)").alias("hi50"),
        F.expr("percentile(value, 0.90)").alias("lo95"),
        F.expr("percentile(value, 0.99)").alias("hi95"),
    )
    return agg.select(
        "event_type",
        F.round("x50", 4).alias("exact_p50"),
        F.round("x95", 4).alias("exact_p95"),
        F.col("a50").between(F.col("lo50"), F.col("hi50")).alias("p50_within"),
        F.col("a95").between(F.col("lo95"), F.col("hi95")).alias("p95_within"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Approximate distinct — HLL sketch *values* differ across engines, so the
# registered output is the accuracy CONTRACT, not the estimate: exact count
# (hash-checked) + a within-tolerance verdict the oracle pins to TRUE. A
# Spark-side HLL drift beyond 5*rsd would flip the flag and fail the hash
# compare — the driver row is a real check, not `no_oracle`. The raw
# estimate remains available via the KMV twin (`approx_distinct_kmv`,
# exact-hash green: deterministic md5 k-minimum-values on both engines)
# and the tolerance pytest (tests/test_ops_extensions.py::
# test_approx_distinct_within_tolerance).
# ---------------------------------------------------------------------------
# shares: locality only (the same events user_id scan as the HLL contract)
@register(
    "approx_distinct_users", shares=("events_users",),
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_tolerance
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 5 * rsd * F.col("exact_users")
        ).alias("within_tolerance"),
    ).orderBy("event_type")


# KMV (k-minimum-values) distinct sketch: unlike HLL, fully deterministic
# and engine-portable — both engines take the k smallest md5 fingerprints,
# so the k-th minimum (and therefore the estimate) hash-matches EXACTLY.
@register(
    "approx_distinct_kmv",
    oracle=f"""
    SELECT event_type, ROUND(est, 2) AS est_users
    FROM ({kmv_sql("events", "event_type", "user_id")}) ORDER BY event_type
    """,
)
def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via a KMV sketch
    (sketch.kmv_estimate). Deterministic md5 makes this the
    oracle-checkable complement to approx_distinct_users (whose HLL
    sketch is engine-specific, hence rows-only)."""
    e = load_table(spark, sf_dir, "events")
    return (
        sketch.kmv_estimate(e, "event_type", "user_id")
        .select("event_type", F.round("est", 2).alias("est_users"))
        .orderBy("event_type")
    )


#: bloom_membership_check's slice width: 4 hex digits -> m = 2^16 bits,
#: fixed because its per-document n_hits is oracle-checked
_BLOOM_HEXW = 4


@register(
    "bloom_membership_check",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, {bloom_positions_sql("text", _BLOOM_HEXW)} AS ps,
               {hash_bucket_sql("doc_id")} % 100 AS b
        FROM documents
    ),
    bits AS (SELECT DISTINCT unnest(ps) AS pos FROM split WHERE b >= 15),
    probe AS (SELECT doc_id, unnest(ps) AS pos FROM split WHERE b < 10)
    SELECT p.doc_id,
           CAST(COUNT(bits.pos) AS BIGINT) AS n_hits,
           CAST(COUNT(bits.pos) = {sketch.BLOOM_K} AS INT) AS maybe_member
    FROM probe p LEFT JOIN bits USING (pos)
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
)
def bloom_membership_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom-filter membership: the train split's texts fold into
    a 2^16-bit packed bitset (sketch.bloom_bitset_words: k = 4 disjoint
    16-bit slices of md5(text) — no engine-native hash, so the sketch is
    reproducible anywhere); each test-split document gets its hit count
    and is flagged maybe-seen when all 4 of its positions are set. No
    false negatives by construction — every exact cross-split duplicate
    is caught — while the bitset is bounded regardless of corpus size:
    the probe is a map-side bit test with no exchange, the data-level
    analog of the runtime bloom-join pruning pinned in
    tests/test_scale_plans.py."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    words = sketch.bloom_bitset_words(d.filter(b >= 15), "text", _BLOOM_HEXW)
    probe = d.filter(b < 10).select("doc_id", "text")
    return (
        sketch.bloom_hits(probe, "text", words, _BLOOM_HEXW)
        .select(
            "doc_id",
            "n_hits",
            (F.col("n_hits") == sketch.BLOOM_K).cast("int").alias("maybe_member"),
        )
        .orderBy("doc_id")
    )


@register(
    "histogram_event_values",
    oracle="""
    SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT)            AS n,
           ROUND(MIN(value), 2)                AS lo,
           ROUND(MAX(value), 2)                AS hi,
           ROUND(AVG(value), 4)                AS mean_v
    FROM events WHERE value IS NOT NULL
    GROUP BY bucket ORDER BY bucket
    """,
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram as a single hash aggregate on a derived bucket
    key — the profiling primitive for numeric columns (the fixed-width
    variant of what approx_percentile sketches adaptively). Bucketing is
    floor(value/width): a pure projection, so the aggregate's partial
    combine sees integer keys and the shuffle carries |buckets| rows per
    partition regardless of input size. min/max are order-insensitive;
    the mean rounds at 4 dp to absorb accumulation-order float drift."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        e.groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.round(F.avg("value"), 4).alias("mean_v"),
        )
        .orderBy("bucket")
    )


@register(
    "stats_aggregate_breadth",
    oracle="""
    WITH mu AS (SELECT l_returnflag AS flag, AVG(l_quantity) AS m
                FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           ROUND(STDDEV_SAMP(l.l_quantity), 6)                    AS sd_samp,
           ROUND(VAR_POP(l.l_quantity), 6)                        AS var_pop,
           ROUND(CORR(l.l_quantity, l.l_extendedprice), 6)        AS qty_price_corr,
           ROUND(COVAR_SAMP(l.l_quantity, l.l_extendedprice), 2)  AS qty_price_cov,
           ROUND(REGR_SLOPE(l.l_extendedprice, l.l_quantity), 4)  AS price_per_qty,
           ROUND(REGR_INTERCEPT(l.l_extendedprice, l.l_quantity), 2) AS price_base,
           ROUND(REGR_R2(l.l_extendedprice, l.l_quantity), 6)     AS r2,
           ROUND(MEDIAN(l.l_quantity), 2)                         AS med_qty,
           ROUND(AVG(POWER(l.l_quantity - mu.m, 3))
                 / POWER(AVG(POWER(l.l_quantity - mu.m, 2)), 1.5), 6) AS skew,
           ROUND(AVG(POWER(l.l_quantity - mu.m, 4))
                 / POWER(AVG(POWER(l.l_quantity - mu.m, 2)), 2) - 3, 6) AS kurt
    FROM lineitem l JOIN mu ON l.l_returnflag = mu.flag
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def stats_aggregate_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: spread (stddev/variance), dependence
    (Pearson corr, covariance, OLS slope/intercept/R²), exact median, and
    shape (skewness, excess kurtosis). Spark's skewness/kurtosis are the
    POPULATION moments g1 = m3/m2^1.5 and g2 = m4/m2² − 3; DuckDB's
    builtins apply sample corrections, so the oracle spells out the moment
    arithmetic instead (two-pass mean CTE). One shuffle: all aggregates
    share the l_returnflag grouping.

    Round-13: spread before the aggregate — the exact percentile forces
    the whole aggregation onto the interpreted ObjectHashAggregate path
    (per-group value buffers), and on the single-row-group testdata scan
    that partial ran as ONE task (guide §2.5). Measured 2.1 s -> 1.1 s
    warm; identity at scale."""
    li = spread_small(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp(q), 6).alias("sd_samp"),
            F.round(F.var_pop(q), 6).alias("var_pop"),
            F.round(F.corr(q, p), 6).alias("qty_price_corr"),
            F.round(F.covar_samp(q, p), 2).alias("qty_price_cov"),
            F.round(F.regr_slope(p, q), 4).alias("price_per_qty"),
            F.round(F.regr_intercept(p, q), 2).alias("price_base"),
            F.round(F.regr_r2(p, q), 6).alias("r2"),
            F.round(F.median(q), 2).alias("med_qty"),
            F.round(F.skewness(q), 6).alias("skew"),
            F.round(F.kurtosis(q), 6).alias("kurt"),
        )
        .orderBy("l_returnflag")
    )


#: countmin_heavy_hitters' sketch width (buckets per hash row)
_USER_CMS_W = 256


@register(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH truth AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY user_id),
    est AS ({countmin_sql("truth", "user_id", "true_count", _USER_CMS_W)})
    SELECT user_id, est_count, true_count,
           CAST(est_count - true_count AS BIGINT) AS overcount
    FROM est ORDER BY est_count DESC, user_id LIMIT 50
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (sketch.countmin_estimate): d=4
    md5-seeded hash rows x w=256 buckets summarize per-user event counts in
    at most 1024 cells — bounded, BROADCASTABLE, and mergeable (cells add),
    the canonical streaming frequency sketch. Estimates are min-over-rows
    upper bounds (never under), checked here against true counts with the
    overcount surfaced; the sketch is built from the per-user counts the
    check needs anyway. Deterministic md5 hashing makes the sketch
    oracle-exact cross-engine, completing the sketch family: Bloom
    (membership), KMV (distinct), HLL (distinct, engine-native), CMS
    (frequency)."""
    e = load_table(spark, sf_dir, "events")
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    return (
        sketch.countmin_estimate(truth, "user_id", "true_count", _USER_CMS_W)
        .select(
            "user_id",
            "est_count",
            "true_count",
            (F.col("est_count") - F.col("true_count")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(50)
    )


@register(
    "table_checksum_by_flag",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor({hex_sql(
               "md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
               " || '|' || CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR))"
           )} * 65536 + {hex_sql(
               "md5('x|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR))"
           )}) AS BIGINT) AS checksum
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def table_checksum_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free data-integrity fingerprint: per-group XOR of a 32-bit
    per-row key hash (two independent 16-bit md5 slices). XOR is
    commutative/associative, so the checksum is invariant to partitioning,
    ordering, and engine — exactly the cross-system migration-validation
    primitive this repo's own oracle gate embodies. One hash aggregate
    with map-side partials; at 100 TB the per-partition XOR reduces to one
    long per group before the (tiny) shuffle.

    Round-13: the scan is spread first — the per-row cost here is two
    md5s over concatenated key strings (1.2M md5 calls at sf0.1), which
    ran serially on the single-row-group testdata scan (guide §2.5,
    unsplittable input). Measured 2.0 s -> 0.7 s warm; identity at scale."""
    li = spread_small(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber"
    )
    key1 = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
    )
    key2 = F.concat_ws(
        "|",
        F.lit("x"),
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    h = (
        hex_int(F.md5(key1)) * 65536 + hex_int(F.md5(key2))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor(h).cast("long").alias("checksum"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "histogram_equidepth_deciles",
    oracle="""
    WITH t AS (SELECT value, event_id,
                      NTILE(10) OVER (ORDER BY value, event_id) AS decile
               FROM events WHERE value IS NOT NULL)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM t GROUP BY decile ORDER BY decile
    """,
)
def histogram_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (the optimizer-statistics / drift-monitoring
    complement of the equi-width `histogram_event_values`): NTILE deciles
    with a deterministic (value, event_id) tiebreak, then per-decile
    bounds and counts. The global NTILE is a single total-order sort —
    acceptable for stats collection; at 100 TB the same result comes from
    approx quantile boundaries + a bucket-key aggregate, traded here for
    the exactness the oracle gate checks."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.orderBy("value", "event_id")
    return (
        e.select("value", F.ntile(10).over(w).cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("decile")
    )


@register(
    "pandas_zscore_normalize",
    oracle="""
    SELECT event_type, event_id AS row_id,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) AS zscore
    FROM events ORDER BY row_id
    """,
)
def pandas_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow grouped-map vs the window-function oracle: the Arrow
    group round trip must reproduce SQL stddev_samp semantics."""
    from ..operators.grouped import grouped_zscore

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").alias("row_id"), "value"
    )
    return grouped_zscore(e, "event_type", "row_id", "value").orderBy("row_id")


# ---------------------------------------------------------------------------
# Dataset composition summary over CUBE(lang, source) — every marginal in
# one pass (Spark expands grouping sets before the single shuffle).
# ---------------------------------------------------------------------------
@register(
    "cube_lang_source_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
           ROUND(AVG(n_chars), 2)        AS avg_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def cube_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Daily per-type anomaly z-scores: the day's mean event value (exact
# integer milli-units from the cents sum) scored against the type's
# 30-day mean/std. All statistics derive from exact BIGINT sums whose
# magnitudes are scale-invariant (per-day MEANS, not totals — the sums
# stay ~1e13 at ANY corpus size), then one shared double formula.
# ---------------------------------------------------------------------------
@register(
    "event_anomaly_zscore",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(FLOOR(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 10.0
                          / COUNT(*)) AS BIGINT) AS avg_milli
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
               SUM(avg_milli) AS s1, SUM(avg_milli * avg_milli) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type AS event_type, day, avg_milli,
           CAST(FLOOR((avg_milli - CAST(s1 AS DOUBLE) / nd) * 1000.0
                      / NULLIF(sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * s1 / nd) / nd), 0))
                AS BIGINT) AS z_milli,
           COALESCE(ABS(CAST(FLOOR((avg_milli - CAST(s1 AS DOUBLE) / nd) * 1000.0
                      / NULLIF(sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * s1 / nd) / nd), 0))
                AS BIGINT)) >= 2000, FALSE) AS is_anomaly
    FROM daily d JOIN stats s ON s.event_type = d.event_type
    ORDER BY event_type, day
    """,
)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day) z-score of the day's mean value against the
    type's across-days distribution; |z| >= 2 flags the anomaly. The
    population std comes from exact integer s1/s2 sums via one double
    expression mirrored verbatim in the oracle."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.floor(F.sum(_cents()) * 10.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_milli")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("avg_milli").alias("s1"),
        F.sum(F.col("avg_milli") * F.col("avg_milli")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("nd")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("nd")) / F.col("nd")
    z = F.floor(
        (F.col("avg_milli") - mean) * 1000.0 / F.nullif(F.sqrt(var), F.lit(0.0))
    ).cast("long")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "avg_milli",
            z.alias("z_milli"),
            F.coalesce(F.abs(z) >= 2000, F.lit(False)).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# KMV join-cardinality estimate: |clickers ∩ viewers| from three KMV
# estimates via inclusion-exclusion (est_a + est_b - est_union) — the
# sketch-level pre-join sizing a planner does before committing a shuffle
# strategy. The three are ONE grouped sketch over a click/view/union tag
# (a click or view row feeds its own tag and the union's). Every
# ingredient is deterministic md5 arithmetic, so BOTH the estimates and
# the verdict hash-match the oracle exactly; the sketch is O(3k) rows,
# mergeable hierarchically at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "kmv_join_cardinality",
    oracle=f"""
    WITH cv AS (SELECT event_type, user_id FROM events
                WHERE event_type IN ('click', 'view')),
    tagged AS (
        SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS tag, user_id
        FROM cv
        UNION ALL SELECT 'u', user_id FROM cv
    ),
    ests AS ({kmv_sql("tagged", "tag", "user_id")}),
    wide AS (
        SELECT COALESCE(MAX(CASE WHEN tag = 'a' THEN est END), 0.0) AS est_a,
               COALESCE(MAX(CASE WHEN tag = 'b' THEN est END), 0.0) AS est_b,
               COALESCE(MAX(CASE WHEN tag = 'u' THEN est END), 0.0) AS est_u
        FROM ests
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view')
    )
    SELECT ROUND(est_a, 2) AS est_a, ROUND(est_b, 2) AS est_b,
           ROUND(est_u, 2) AS est_union,
           ROUND(est_a + est_b - est_u, 2) AS est_intersection,
           exact_intersection,
           ABS(est_a + est_b - est_u - exact_intersection)
             <= 0.5 * exact_intersection AS within_bound
    FROM wide, exact
    """,
)
def kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    et = F.col("event_type")
    tagged = e.filter(et.isin("click", "view")).select(
        "user_id",
        F.explode(F.array(F.when(et == "click", "a").otherwise("b"), F.lit("u"))).alias("tag"),
    )
    wide = sketch.kmv_estimate(tagged, "tag", "user_id").agg(
        *[
            F.coalesce(F.max(F.when(F.col("tag") == t, F.col("est"))), F.lit(0.0)).alias(f"est_{t}")
            for t in "abu"
        ]
    )
    clickers = e.filter(et == "click").select("user_id").distinct()
    viewers = e.filter(et == "view").select("user_id").distinct()
    exact = clickers.intersect(viewers).agg(
        F.count(F.lit(1)).alias("exact_intersection")
    )
    est_int = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return wide.crossJoin(exact).select(
        F.round("est_a", 2).alias("est_a"),
        F.round("est_b", 2).alias("est_b"),
        F.round("est_u", 2).alias("est_union"),
        F.round(est_int, 2).alias("est_intersection"),
        "exact_intersection",
        (
            F.abs(est_int - F.col("exact_intersection"))
            <= 0.5 * F.col("exact_intersection")
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Winsorized robust statistics: clip each event type's values at exact
# rank-based P5/P95 thresholds and report clip counts + the robust sum —
# the outlier-tolerant aggregate a metrics pipeline uses when raw sums are
# skew-dominated. Everything is BIGINT cents: thresholds are the k-th
# smallest values at integer ranks k_low = (n+19)//20, k_high =
# (19n+19)//20 (= CEIL(n/20), CEIL(19n/20) in pure integer arithmetic —
# no double percentile interpolation, so no cross-engine ulp boundary to
# flip a clip comparison). Shape: one per-type rank window + one join back
# + one aggregate; exact per-group ranking is the cost of exact
# percentiles — at 100 TB the approx_percentile_contract entry is the
# sketch-based scale path for the same decision.
# ---------------------------------------------------------------------------
@register(
    "winsorized_robust_stats",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
    ),
    r AS (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    th AS (
        SELECT event_type, MAX(n) AS n,
               MAX(CASE WHEN rn = (n + 19) // 20 THEN c END) AS th_low,
               MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN c END) AS th_high
        FROM r GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(MAX(th.n) AS BIGINT) AS n,
           MAX(th.th_low) AS th_low_cents,
           MAX(th.th_high) AS th_high_cents,
           CAST(SUM(CASE WHEN v.c < th.th_low THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN v.c > th.th_high THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           CAST(SUM(GREATEST(th.th_low, LEAST(th.th_high, v.c))) AS BIGINT)
             AS winsorized_sum_cents
    FROM v JOIN th ON th.event_type = v.event_type
    GROUP BY v.event_type ORDER BY v.event_type
    """,
)
def winsorized_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", _cents().alias("c"))
    w_rank = Window.partitionBy("event_type").orderBy("c")
    w_all = Window.partitionBy("event_type")
    r = v.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )
    th = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("c"))).alias(
            "th_low"
        ),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("c"))
        ).alias("th_high"),
    )
    clipped = F.greatest(F.col("th_low"), F.least(F.col("th_high"), F.col("c")))
    return (
        v.join(th, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("th_low").alias("th_low_cents"),
            F.max("th_high").alias("th_high_cents"),
            F.sum((F.col("c") < F.col("th_low")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("c") > F.col("th_high")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.sum(clipped).alias("winsorized_sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Data-quality expectation suite (Deequ/Great-Expectations shape): each
# expectation is one filter-count over the fact table, unioned into a
# (check, n_violations, n_rows, passed) report — the gate a pipeline
# evaluates before publishing a partition. ONE scan computes every check
# (conditional aggregates, no per-check scans); all counts are BIGINTs.
# ---------------------------------------------------------------------------
@register(
    "dq_expectation_checks",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
               SUM(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END)
                 AS bad_value,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
                         OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END)
                 AS ts_out_of_range,
               SUM(CASE WHEN event_type NOT IN
                        ('click','view','purchase','signup','error')
                        THEN 1 ELSE 0 END) AS unknown_type,
               COUNT(*) - COUNT(DISTINCT event_id) AS dup_event_ids
        FROM events
    )
    SELECT c.check_name,
           CAST(c.n_violations AS BIGINT) AS n_violations,
           CAST(agg.n_rows AS BIGINT) AS n_rows,
           c.n_violations = 0 AS passed
    FROM agg, LATERAL (
        SELECT 'null_user_id' AS check_name, null_user AS n_violations
        UNION ALL SELECT 'negative_or_null_value', bad_value
        UNION ALL SELECT 'ts_out_of_range', ts_out_of_range
        UNION ALL SELECT 'unknown_event_type', unknown_type
        UNION ALL SELECT 'duplicate_event_ids', dup_event_ids
    ) c
    ORDER BY check_name
    """,
)
def dq_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user"),
        F.sum((F.col("value").isNull() | (F.col("value") < 0)).cast("long")).alias(
            "bad_value"
        ),
        F.sum(
            (
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("ts_out_of_range"),
        F.sum(
            (~F.col("event_type").isin("click", "view", "purchase", "signup", "error"))
            .cast("long")
        ).alias("unknown_type"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("dup_event_ids"),
    )
    checks = [
        ("null_user_id", "null_user"),
        ("negative_or_null_value", "bad_value"),
        ("ts_out_of_range", "ts_out_of_range"),
        ("unknown_event_type", "unknown_type"),
        ("duplicate_event_ids", "dup_event_ids"),
    ]
    rows = None
    for name, col in checks:
        r = agg.select(
            F.lit(name).alias("check_name"),
            F.col(col).cast("long").alias("n_violations"),
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col(col) == 0).alias("passed"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("check_name")


# ---------------------------------------------------------------------------
# Table profiling (Deequ-style column statistics): per column, row/null/
# distinct counts from ONE scan (conditional + distinct aggregates) — the
# metadata a catalog publishes with every partition. Numeric min/max are
# deliberately excluded from the report: cross-engine double-to-string
# formatting is not canonical, and the numeric profile lives in typed
# entries (percentile_stats, stats_aggregate_breadth).
# ---------------------------------------------------------------------------
@register(
    "profile_table_columns",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n0,
               COUNT(DISTINCT event_id) AS d0,
               SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS n1,
               COUNT(DISTINCT ts) AS d1,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS n2,
               COUNT(DISTINCT user_id) AS d2,
               SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS n3,
               COUNT(DISTINCT event_type) AS d3,
               SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n4,
               COUNT(DISTINCT value) AS d4,
               SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS n5,
               COUNT(DISTINCT props) AS d5
        FROM events
    )
    SELECT c.col_name, CAST(agg.n_rows AS BIGINT) AS n_rows,
           CAST(c.n_nulls AS BIGINT) AS n_nulls,
           CAST(c.n_distinct AS BIGINT) AS n_distinct
    FROM agg, LATERAL (
        SELECT 'event_id' AS col_name, n0 AS n_nulls, d0 AS n_distinct
        UNION ALL SELECT 'ts', n1, d1
        UNION ALL SELECT 'user_id', n2, d2
        UNION ALL SELECT 'event_type', n3, d3
        UNION ALL SELECT 'value', n4, d4
        UNION ALL SELECT 'props', n5, d5
    ) c
    ORDER BY col_name
    """,
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"n{i}"))
        aggs.append(F.countDistinct(c).alias(f"d{i}"))
    agg = e.agg(*aggs)
    rows = None
    for i, c in enumerate(cols):
        r = agg.select(
            F.lit(c).alias("col_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(f"n{i}").cast("long").alias("n_nulls"),
            F.col(f"d{i}").cast("long").alias("n_distinct"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("col_name")


# ---------------------------------------------------------------------------
# Conversion rate with a Wilson 95% interval, per day: of the users who
# clicked that day, how many also purchased that day — with the interval
# an experimentation readout needs before trusting a small-n day. The
# Wilson chain is ONE shared IEEE expression over exact integer (k, n)
# aggregates — identical text on both engines, so the doubles match to
# the rounded digit (the repo's standard float discipline). Shape: one
# (day, user) dedup aggregate + one day aggregate; the interval math is
# scalar per day row.
# ---------------------------------------------------------------------------
_WILSON_Z = "1.959963984540054e0"  # z_{0.975}; e-notation forces DOUBLE in
# DuckDB too (a bare decimal literal parses as DECIMAL there and the
# mixed decimal/double chain drifts at the 5th digit)


@register(
    "conversion_wilson_by_day",
    oracle=f"""
    WITH du AS (
        SELECT CAST(ts AS DATE) AS d, user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
        FROM events GROUP BY d, user_id
    ),
    day AS (
        SELECT d,
               SUM(clicked) AS n,
               SUM(CASE WHEN clicked = 1 AND purchased = 1 THEN 1 ELSE 0 END) AS k
        FROM du GROUP BY d
    )
    SELECT d,
           CAST(n AS BIGINT) AS n_clickers,
           CAST(k AS BIGINT) AS n_converted,
           ROUND(k * 1e0 / n, 6) AS rate,
           ROUND((k * 1e0 / n + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n)
                  - {_WILSON_Z} * sqrt((k * 1e0 / n) * (1e0 - k * 1e0 / n) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / (4e0 * n * n)))
                 / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
           ROUND((k * 1e0 / n + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n)
                  + {_WILSON_Z} * sqrt((k * 1e0 / n) * (1e0 - k * 1e0 / n) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / (4e0 * n * n)))
                 / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
    FROM day WHERE n > 0 ORDER BY d
    """,
)
def conversion_wilson_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    du = (
        e.groupBy(F.col("ts").cast("date").alias("d"), "user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("clicked"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
        )
    )
    day = du.groupBy("d").agg(
        F.sum("clicked").alias("n"),
        F.sum(((F.col("clicked") == 1) & (F.col("purchased") == 1)).cast("int")).alias(
            "k"
        ),
    )
    z = _WILSON_Z
    p_hat = "k * 1e0 / n"
    half = f"{z} * sqrt(({p_hat}) * (1.0 - {p_hat}) / n + {z} * {z} / (4e0 * n * n))"
    center = f"{p_hat} + {z} * {z} / (2e0 * n)"
    denom = f"1e0 + {z} * {z} / n"
    return (
        day.filter(F.col("n") > 0)
        .select(
            "d",
            F.col("n").cast("long").alias("n_clickers"),
            F.col("k").cast("long").alias("n_converted"),
            F.round(F.expr(p_hat), 6).alias("rate"),
            F.round(F.expr(f"(({center}) - ({half})) / ({denom})"), 6).alias(
                "wilson_lo"
            ),
            F.round(F.expr(f"(({center}) + ({half})) / ({denom})"), 6).alias(
                "wilson_hi"
            ),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Dataset card summary — the ONE-row corpus overview a dataset release
# ships (docs/tokens/langs/sources, duplication, length stats, dominant
# language share). Every number comes from two scans (docs, tokens) of
# conditional/distinct aggregates; ratios are FLOOR'd ppm/milli BIGINTs.
# ---------------------------------------------------------------------------
@register(
    "dataset_card_summary",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, lang, source,
               {fingerprint_sql} AS fp,
               len({words_sql}) AS n_words
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
           CAST(FLOOR((COUNT(*) - COUNT(DISTINCT fp)) * 1000000.0
                      / NULLIF(COUNT(*), 0)) AS BIGINT) AS dup_ppm,
           CAST(FLOOR(SUM(n_words) * 1000.0 / NULLIF(COUNT(*), 0)) AS BIGINT)
             AS mean_words_milli,
           CAST(MIN(n_words) AS BIGINT) AS min_words,
           CAST(MAX(n_words) AS BIGINT) AS max_words,
           CAST(FLOOR(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      * 1000000.0 / NULLIF(COUNT(*), 0)) AS BIGINT)
             AS en_share_ppm
    FROM t
    """,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(text.norm_ws(F.col("text"))).alias("fp"),
        F.size(text.words(F.col("text"))).alias("n_words"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_exact_dups"),
        F.floor(
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            * F.lit(1000000.0)
            / F.nullif(F.count(F.lit(1)), F.lit(0))
        )
        .cast("long")
        .alias("dup_ppm"),
        F.floor(
            F.sum("n_words") * F.lit(1000.0) / F.nullif(F.count(F.lit(1)), F.lit(0))
        )
        .cast("long")
        .alias("mean_words_milli"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.floor(
            F.sum((F.col("lang") == "en").cast("long"))
            * F.lit(1000000.0)
            / F.nullif(F.count(F.lit(1)), F.lit(0))
        )
        .cast("long")
        .alias("en_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Robust z-scores via median absolute deviation: per event type, the
# exact median (rank-based, same integer-rank discipline as the winsorize
# thresholds) and MAD = median(|x - median|); each value's robust score
# is FLOOR'd milli-units of 0.6745·|x-med|/MAD. Medians of BIGINT cents
# at integer ranks — no interpolation ulp exposure; only the final scale
# chain is a shared IEEE expression. Per-type output keeps the report
# small (value rows stay distributed).
# ---------------------------------------------------------------------------
@register(
    "robust_mad_outlier_counts",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
    ),
    med AS (
        SELECT event_type, c AS median_cents FROM (
            SELECT event_type, c,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v)
        WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT v.event_type, v.c, ABS(v.c - m.median_cents) AS ad,
               m.median_cents
        FROM v JOIN med m ON m.event_type = v.event_type
    ),
    mad AS (
        SELECT event_type, ad AS mad_cents FROM (
            SELECT event_type, ad,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM dev)
        WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(MAX(d.median_cents) AS BIGINT) AS median_cents,
           CAST(MAX(m.mad_cents) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN 6745e-4 * d.ad / NULLIF(m.mad_cents, 0) > 3e0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def robust_mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", _cents().alias("c"))

    def exact_median(df, col, out):
        w_rank = Window.partitionBy("event_type").orderBy(col)
        w_all = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w_rank))
            .withColumn("n", F.count(F.lit(1)).over(w_all))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = exact_median(v, "c", "median_cents")
    dev = v.join(med, "event_type").select(
        "event_type",
        "c",
        F.abs(F.col("c") - F.col("median_cents")).alias("ad"),
        "median_cents",
    )
    mad = exact_median(dev.select("event_type", F.col("ad").alias("c")), "c", "mad_cents")
    score_gt3 = (
        F.expr("6745e-4") * F.col("ad") / F.nullif(F.col("mad_cents"), F.lit(0))
        > F.expr("3e0")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("median_cents").cast("long").alias("median_cents"),
            F.max("mad_cents").cast("long").alias("mad_cents"),
            F.sum(score_gt3.cast("long")).alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# K-anonymity audit: group sizes over the (event_type, day) quasi-
# identifier — groups with fewer than k distinct users are re-
# identification risks a release gate must flag (the privacy complement
# of the PII scrubber). One hash aggregate on the quasi-identifier plus
# a one-row summary; k = 5.
# ---------------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_rows
        FROM events GROUP BY event_type, d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(SUM(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           CAST(MIN(n_users) AS BIGINT) AS min_group_users,
           SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) = 0 AS k_anonymous
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    risky = (F.col("n_users") < 5).cast("long")
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(risky).cast("long").alias("n_risky_groups"),
        F.sum(F.when(F.col("n_users") < 5, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.min("n_users").cast("long").alias("min_group_users"),
        (F.sum(risky) == 0).alias("k_anonymous"),
    )


@register(
    "hll_distinct_contract", shares=("events_users",),
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def hll_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy contract for Spark's native HyperLogLog++
    (approx_count_distinct at rsd=0.05): per event type, the exact
    distinct-user count plus a measured |approx - exact| / exact <= 3*rsd
    verdict. The oracle cannot reproduce Spark's HLL register values, so
    the approximate count itself stays out of the output — what IS
    hash-checked is the exact count and the claim that the sketch met
    its error bound on this data (the lsh_recall_contract pattern:
    sketch accuracy measured, not assumed). At 100 TB the HLL side is
    the one that matters: partial sketches merge map-side, so the
    exchange carries fixed-size registers, not user_id sets."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.05).alias("_approx"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.15
        ).alias("within_bound"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Closed-form OLS from exact integer sums — the regression-aggregate
# family (regr_slope/regr_intercept/corr) with the repo's exact-
# accumulation discipline: x and y are integers, so the five sufficient
# statistics (n, Σx, Σy, Σxy, Σx²[, Σy²]) are EXACT BIGINTs and both
# engines derive slope/intercept/r² from identical operands — no
# float-accumulation-order drift, unlike the built-in regr_* aggregates
# whose double partials are order-dependent. r²'s cross term would
# overflow BIGINT squared, so the final arithmetic is double over exact
# integer differences (IEEE-deterministic given identical operands).
# ---------------------------------------------------------------------------

@register(
    "regression_words_chars",
    oracle=f"""
    WITH xy AS (
        SELECT lang, n_chars AS x, CAST(len({words_sql}) AS BIGINT) AS y
        FROM documents
    ),
    s AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM xy GROUP BY lang
    )
    SELECT lang, n AS n_docs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0)) * sx) / n, 6)
             AS intercept,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE), 0), 6) AS r2
    FROM s ORDER BY lang
    """,
)
def regression_words_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OLS of word count on character count (the data-card
    regression every corpus report carries: chars-per-word structure and
    its fit quality). One partial-aggregated pass accumulating the five
    exact integer moments; slope/intercept/r² are closed-form over
    those BIGINTs, so the result is partition-invariant and hash-stable
    at any scale — the 100 TB-safe form of regr_slope/regr_intercept."""
    d = load_table(spark, sf_dir, "documents")
    # round 13: codegen tokenizer (see operators.text.words)
    y = F.size(text_words(F.col("text"))).cast("long")
    xy = d.select("lang", F.col("n_chars").alias("x"), y.alias("y"))
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    # zero-variance guard: a single-doc (or constant-x) language makes
    # vx = 0; x/0 is Infinity in Spark but engine-dependent in others —
    # NULLIF pins the degenerate case to NULL identically everywhere
    cov = F.expr("cast(n * sxy - sx * sy as double)")
    vx = F.expr("nullif(cast(n * sxx - sx * sx as double), 0d)")
    vxy = F.expr(
        "nullif(cast(n * sxx - sx * sx as double)"
        " * cast(n * syy - sy * sy as double), 0d)"
    )
    slope = cov / vx
    return s.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.round(cov * cov / vxy, 6).alias("r2"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Pearson correlation matrix between event-type daily volumes, from
# exact integer sufficient statistics — the same discipline as
# regression_words_chars: daily counts are BIGINTs, the five moments
# are exact, and the only floating arithmetic is the final closed form
# over identical operands in both engines. sqrt(vx)*sqrt(vy) (not
# sqrt(vx*vy)) keeps the intermediate inside BIGINT range. The
# day-by-type grid is densified (missing combinations count 0) so the
# series align day-for-day.
# ---------------------------------------------------------------------------

@register(
    "event_type_daily_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day, event_type
    ),
    days AS (SELECT DISTINCT day FROM daily),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (
        SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
        FROM days d CROSS JOIN types t
        LEFT JOIN daily c ON c.day = d.day AND c.event_type = t.event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(a.n) AS BIGINT) AS sx,
               CAST(SUM(b.n) AS BIGINT) AS sy,
               CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
               CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
               CAST(SUM(b.n * b.n) AS BIGINT) AS syy
        FROM grid a JOIN grid b
          ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_days,
           ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)), 0),
                 6) AS pearson_r
    FROM pairs ORDER BY type_a, type_b
    """,
)
def event_type_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Pearson correlation of event-type daily volumes (the
    co-movement matrix an anomaly monitor baselines against). The grid
    and pair relations are dimension-sized (days x types); the only
    corpus-scale work is the one partial-aggregated daily count. At
    100 TB the self-join operates on |days| x |types| rows — thousands
    — regardless of event volume."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        days.crossJoin(types)
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    a = grid.select("day", F.col("event_type").alias("type_a"), F.col("n").alias("xa"))
    b = grid.select("day", F.col("event_type").alias("type_b"), F.col("n").alias("xb"))
    pairs = (
        a.join(b, "day")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("xa").cast("long").alias("sx"),
            F.sum("xb").cast("long").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_days",
        # constant-volume series (variance 0) -> NULL in both engines,
        # never an engine-dependent inf/nan (see regression_words_chars)
        F.round(
            F.expr("cast(n_days * sxy - sx * sy as double)")
            / F.expr(
                "nullif(sqrt(cast(n_days * sxx - sx * sx as double))"
                " * sqrt(cast(n_days * syy - sy * sy as double)), 0d)"
            ),
            6,
        ).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# l-diversity audit. QI = (event_type, day); sensitive attribute =
# props. distinct-l = count(distinct sensitive); entropy-l uses the
# exact-integer-log-argument form and rounds to 4 decimals BEFORE the
# threshold compare so both engines threshold the identical value
# (ln(3) ~ 1.0986 = entropy of a uniform 3-value group — the classic
# "well-represented" bar for l = 3).
# ---------------------------------------------------------------------------
@register(
    "l_diversity_audit",
    oracle="""
    WITH sc AS (
        SELECT event_type, CAST(ts AS DATE) AS d, props, COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    g AS (
        SELECT event_type, d,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS l_distinct,
               ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS l_entropy
        FROM sc GROUP BY event_type, d
    )
    SELECT event_type, d, n_rows, l_distinct, l_entropy,
           l_distinct >= 3 AND l_entropy >= 1.0986 AS l_diverse
    FROM g ORDER BY event_type, d
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct- and entropy-l-diversity per (event_type, day) QI group
    over the `props` sensitive attribute — two partial-aggregated hash
    aggregates (per-(group, value) counts, then per-group moments);
    never materializes per-row sensitive values past the first
    aggregate, so the audit itself is safe to run where the raw
    attribute is restricted."""
    e = load_table(spark, sf_dir, "events")
    sc = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d"), "props"
    ).agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    ent = F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 4)
    g = sc.groupBy("event_type", "d").agg(
        n.cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        ent.alias("l_entropy"),
    )
    return g.select(
        "event_type",
        "d",
        "n_rows",
        "l_distinct",
        "l_entropy",
        ((F.col("l_distinct") >= 3) & (F.col("l_entropy") >= 1.0986)).alias(
            "l_diverse"
        ),
    ).orderBy("event_type", "d")


# ---------------------------------------------------------------------------
# Good-Turing unseen mass + Chao1 richness — the corpus-SATURATION
# diagnostic the text-analysis family lacks: "how much vocabulary have we
# not seen yet?" drives scrape-more vs dedup-harder decisions for a
# training corpus. Good (1953): P(unseen) ~ N1/N (singleton share of
# token mass). Chao (1984): true richness >= V + N1^2 / (2*N2). Both are
# ratios of exact BIGINT frequency-of-frequency counts, so the entry
# stays hash-exact via integer floor division (ppm / x100 units) — no
# float path at all. Scale shape: explode -> two partial-aggregated hash
# aggregates; state is O(vocab) then O(sources), never O(tokens).
# ---------------------------------------------------------------------------
_GT_ORACLE = f"""
    WITH words AS (
        SELECT source, w
        FROM (SELECT source,
                     {words_sql} AS ws
              FROM documents), UNNEST(ws) AS t(w)
    ),
    wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words GROUP BY source, w
    ),
    g AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM wc GROUP BY source
    )
    SELECT source, n_tokens, vocab, n1, n2,
           (1000000 * n1) // n_tokens AS unseen_ppm,
           CASE WHEN n2 > 0
                THEN 100 * vocab + (100 * n1 * n1) // (2 * n2)
           END AS chao1_x100
    FROM g ORDER BY source
"""


@register("good_turing_vocab_coverage", oracle=_GT_ORACLE)
def good_turing_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Good-Turing unseen-probability mass (singletons/tokens,
    ppm) and Chao1 lower-bound vocabulary richness (x100), from exact
    frequency-of-frequency counts — integer floor division only, so the
    result is hash-identical across engines by construction."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(text_words(F.col("text"))).alias("w"))
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    g = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    return g.select(
        "source",
        "n_tokens",
        "vocab",
        "n1",
        "n2",
        F.expr("(1000000 * n1) div n_tokens").alias("unseen_ppm"),
        F.when(
            F.col("n2") > 0,
            100 * F.col("vocab") + F.expr("(100 * n1 * n1) div (2 * n2)"),
        ).alias("chao1_x100"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Pearson chi-square independence audit of the (lang, source) mix — the
# classic contingency-table DQ check: is language distribution
# independent of source? A skewed dependence (e.g. one source carrying
# all of one language) is exactly the mix pathology the temperature/
# quota entries then correct. Float discipline: expected counts and
# per-cell contributions use ONLY IEEE +,-,*,/ (exactly-rounded, so
# deterministic across engines given the identical expression tree —
# unlike libm ln/pow) and each cell is nano-quantized BEFORE any
# summation, so downstream totals are BIGINT sums. Row/col/grand totals
# come from window sums over the ~|langs|x|sources| cell relation
# (bounded, one shuffle), never a second scan.
# ---------------------------------------------------------------------------
_CHI2_ORACLE = """
    WITH seen AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    cells AS (
        SELECT l.lang, s.source, COALESCE(seen.o, 0) AS o
        FROM (SELECT DISTINCT lang FROM documents) l
        CROSS JOIN (SELECT DISTINCT source FROM documents) s
        LEFT JOIN seen ON seen.lang = l.lang AND seen.source = s.source
    ),
    tot AS (
        SELECT lang, source, o,
               CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS r,
               CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS c,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM cells
    )
    SELECT lang, source, o AS observed,
           CAST(ROUND(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                      / CAST(n AS DOUBLE) * 1000000, 0) AS BIGINT)
             AS expected_ppm,
           CAST(ROUND(1000000000 * ((CAST(o AS DOUBLE)
                        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                          / CAST(n AS DOUBLE))
                      * (CAST(o AS DOUBLE)
                        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                          / CAST(n AS DOUBLE)))
                      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                         / CAST(n AS DOUBLE)), 0) AS BIGINT)
             AS contrib_nano
    FROM tot ORDER BY lang, source
"""


@register("contingency_chi_square", oracle=_CHI2_ORACLE)
def contingency_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Pearson chi-square decomposition of the (lang, source)
    contingency table: observed count, expected count under independence
    (ppm), and the cell's nano-quantized X^2 contribution — the full
    statistic is the BIGINT sum of `contrib_nano`. One hash aggregate +
    window sums over the bounded cell relation."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    seen = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    # densify: zero cells contribute E to the statistic (bounded
    # |langs| x |sources| grid, the event_type_daily_corr pattern)
    grid = d.select("lang").distinct().crossJoin(d.select("source").distinct())
    cells = grid.join(seen, ["lang", "source"], "left").select(
        "lang", "source", F.coalesce("o", F.lit(0)).cast("long").alias("o")
    )
    tot = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).cast("long").alias("r"),
        F.sum("o").over(Window.partitionBy("source")).cast("long").alias("c"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    return tot.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        F.round(e * 1000000, 0).cast("long").alias("expected_ppm"),
        F.round(F.lit(1000000000) * ((od - e) * (od - e)) / e, 0)
        .cast("long")
        .alias("contrib_nano"),
    ).orderBy("lang", "source")


# Nonparametric distribution-drift tests and the third privacy audit.
#
# The DQ family so far tests MOMENTS (z-score anomaly, Pearson/chi-square,
# OLS) — all parametric. This module adds the rank/ECDF family, the
# standard drift detectors for a training-data pipeline where value
# distributions are anything but normal:
#
# - Kolmogorov-Smirnov two-sample D per source (one-vs-rest ECDF max gap)
# - Mann-Whitney U / AUC per source (rank-sum with exact tie handling)
# - Benford first-digit audit of the money column (fraud/synthetic-data
#   signal; expected frequencies from the integer-quantized ln discipline)
# - t-closeness (Li et al. 2007): EMD between each QI group's ordered
#   sensitive-attribute distribution and the global one — completing the
#   k-anonymity / l-diversity / t-closeness privacy trio.
#
# Everything is exact integer arithmetic: ECDF comparisons cross-multiply
# counts instead of dividing (|cum_a * n_b - cum_b * n_a|), ranks use the
# 2x-scaled average-rank trick so ties stay integral, and the only ln()
# calls take integer arguments nano-quantized before any further
# arithmetic (the record-linkage discipline). Results are ppm integers — hash-
# identical across engines by construction.
#
# Scale shapes: every entry is counts-first — the raw table collapses to
# a per-(group, value) hash aggregate before any window; the window/grid
# relations are bounded (|sources| x |distinct lengths|, |QI| x |magnitude
# buckets|, 9 digits), never O(rows). int64 bounds are documented per
# entry; all hold beyond the 100x probe point.


#: KS decision threshold: D >= 0.05 (50000 ppm) flags drift
_KS_PPM = 50_000
#: AUC effect threshold: |AUC - 0.5| >= 0.1 flags a location shift
_AUC_PPM = 100_000
#: t-closeness threshold: EMD >= 0.2 (200000 ppm) is a violation
_T_PPM = 200_000


def _len_counts(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(per-(source, n_chars) counts, per-n_chars global counts) — the
    shared counts-first reduction both rank tests start from. The raw
    table never reaches a window: everything downstream operates on
    these two bounded relations (|sources| x |distinct lengths| and
    |distinct lengths|)."""
    counts = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lens = d.groupBy("n_chars").agg(F.count(F.lit(1)).cast("long").alias("c_all"))
    return counts, lens


_KS_ORACLE = """
    WITH counts AS (
        SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars
    ),
    lens AS (
        SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c_all
        FROM documents GROUP BY n_chars
    ),
    lens_cum AS (
        SELECT n_chars,
               CAST(SUM(c_all) OVER (ORDER BY n_chars) AS BIGINT) AS cum_all,
               CAST(SUM(c_all) OVER () AS BIGINT) AS n
        FROM lens
    ),
    srcs AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        FROM documents GROUP BY source
    ),
    cells AS (
        SELECT s.source, l.n_chars, s.n_s, COALESCE(c.c, 0) AS c
        FROM srcs s
        CROSS JOIN (SELECT n_chars FROM lens) l
        LEFT JOIN counts c ON c.source = s.source AND c.n_chars = l.n_chars
    ),
    cum AS (
        SELECT source, n_chars, n_s,
               CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars)
                    AS BIGINT) AS cum_s
        FROM cells
    ),
    gaps AS (
        SELECT cum.source, cum.n_s, lc.n,
               ABS(cum_s * (lc.n - cum.n_s)
                   - (lc.cum_all - cum_s) * cum.n_s) AS gap
        FROM cum JOIN lens_cum lc ON lc.n_chars = cum.n_chars
    ),
    agg AS (
        SELECT source, n_s,
               (1000000 * MAX(gap)) // NULLIF(n_s * (n - n_s), 0) AS d_ppm
        FROM gaps GROUP BY source, n_s, n
    )
    SELECT source, n_s AS n_docs, CAST(d_ppm AS BIGINT) AS d_ppm,
           d_ppm >= 50000 AS drifted
    FROM agg ORDER BY source
"""


@register("ks_length_drift_by_source", oracle=_KS_ORACLE)
def ks_length_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest Kolmogorov-Smirnov D over the n_chars distribution:
    for each source, the max ECDF gap between its documents and the rest
    of the corpus, as an exact ppm integer (the gap cross-multiplies
    counts — |cum_s * n_rest - cum_rest * n_s| — so no division happens
    until the single final floor-div). D >= 0.05 flags drift.

    Scale: the grid is |sources| x |distinct lengths| (bounded-domain
    attribute, sub-linear in rows); the raw table is reduced by one hash
    aggregate before any window touches it. int64 bound: 1e6 * max-gap
    needs n_s * n_rest < 9.2e12, i.e. corpora under ~6M docs per drift
    check; past that, floor-divide the gap by n_s * n_rest per length
    BEFORE the max (same winner, ppm-quantized comparison)."""
    d = load_table(spark, sf_dir, "documents")
    counts, lens = _len_counts(d)
    lens_cum = lens.select(
        "n_chars",
        F.sum("c_all")
        .over(Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_all"),
        F.sum("c_all").over(Window.partitionBy()).cast("long").alias("n"),
    )
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    cells = (
        srcs.crossJoin(F.broadcast(lens.select("n_chars")))
        .join(counts, ["source", "n_chars"], "left")
        .select(
            "source",
            "n_chars",
            "n_s",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    cum = cells.select(
        "source",
        "n_chars",
        "n_s",
        F.sum("c")
        .over(
            Window.partitionBy("source")
            .orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum_s"),
    )
    gaps = cum.join(F.broadcast(lens_cum), "n_chars").select(
        "source",
        "n_s",
        "n",
        F.abs(
            F.col("cum_s") * (F.col("n") - F.col("n_s"))
            - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
        ).alias("gap"),
    )
    agg = gaps.groupBy("source", "n_s", "n").agg(
        F.expr(
            "(1000000 * MAX(gap)) div nullif(n_s * (n - n_s), 0)"
        ).alias("d_ppm")
    )
    return agg.select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.col("d_ppm").cast("long").alias("d_ppm"),
        (F.col("d_ppm") >= _KS_PPM).alias("drifted"),
    ).orderBy("source")


_MW_ORACLE = """
    WITH counts AS (
        SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars
    ),
    lens AS (
        SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c_all
        FROM documents GROUP BY n_chars
    ),
    rk AS (
        SELECT n_chars,
               CAST(COALESCE(SUM(c_all) OVER (
                   ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS before_all,
               c_all,
               CAST(SUM(c_all) OVER () AS BIGINT) AS n
        FROM lens
    ),
    scored AS (
        SELECT c.source, c.c,
               2 * rk.before_all + rk.c_all + 1 AS rank2, rk.n
        FROM counts c JOIN rk ON rk.n_chars = c.n_chars
    ),
    agg AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(SUM(c * rank2) AS BIGINT) AS r1_x2, MAX(n) AS n
        FROM scored GROUP BY source
    ),
    fin AS (
        SELECT source, n_docs,
               r1_x2 - n_docs * (n_docs + 1) AS u_x2,
               (1000000 * (r1_x2 - n_docs * (n_docs + 1)))
                 // NULLIF(2 * n_docs * (n - n_docs), 0) AS auc_ppm
        FROM agg
    )
    SELECT source, n_docs, CAST(u_x2 AS BIGINT) AS u_x2,
           CAST(auc_ppm AS BIGINT) AS auc_ppm,
           ABS(auc_ppm - 500000) >= 100000 AS shifted
    FROM fin ORDER BY source
"""


@register("mann_whitney_auc_by_source", oracle=_MW_ORACLE)
def mann_whitney_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest Mann-Whitney U over n_chars per source, with exact
    tie handling via 2x-scaled average ranks (a tie block spanning ranks
    [a+1, a+c] has 2*avg_rank = 2a + c + 1 — integral always). Reports
    2*U and the common-language effect size AUC = U / (n1*n2) in ppm;
    |AUC - 0.5| >= 0.1 flags a stochastic location shift.

    Scale: ranks are computed ONCE on the |distinct lengths| relation
    (bounded), then every source aggregates its own counts against them
    — no per-source sort, no densified grid at all (absent cells
    contribute zero to the rank-sum). int64 bound: 1e6 * 2U needs
    n_s * n_rest < 4.6e12 (~4M docs); past that report auc_x1000."""
    d = load_table(spark, sf_dir, "documents")
    counts, lens = _len_counts(d)
    rk = lens.select(
        "n_chars",
        F.coalesce(
            F.sum("c_all").over(
                Window.orderBy("n_chars").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("before_all"),
        "c_all",
        F.sum("c_all").over(Window.partitionBy()).cast("long").alias("n"),
    )
    scored = counts.join(F.broadcast(rk), "n_chars").select(
        "source",
        "c",
        (2 * F.col("before_all") + F.col("c_all") + 1).alias("rank2"),
        "n",
    )
    agg = scored.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.col("c") * F.col("rank2")).cast("long").alias("r1_x2"),
        F.max("n").alias("n"),
    )
    u_x2 = F.col("r1_x2") - F.col("n_docs") * (F.col("n_docs") + 1)
    fin = agg.select(
        "source",
        "n_docs",
        u_x2.alias("u_x2"),
        F.expr(
            "(1000000 * (r1_x2 - n_docs * (n_docs + 1)))"
            " div nullif(2 * n_docs * (n - n_docs), 0)"
        ).alias("auc_ppm"),
    )
    return fin.select(
        "source",
        "n_docs",
        F.col("u_x2").cast("long").alias("u_x2"),
        F.col("auc_ppm").cast("long").alias("auc_ppm"),
        (F.abs(F.col("auc_ppm") - 500_000) >= _AUC_PPM).alias("shifted"),
    ).orderBy("source")


_BENFORD_ORACLE = """
    WITH pos AS (
        SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events
        WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 0
    ),
    obs AS (
        SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit,
               CAST(COUNT(*) AS BIGINT) AS observed
        FROM pos GROUP BY 1
    ),
    digits AS (
        SELECT CAST(d AS BIGINT) AS digit
        FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS t(d)
    ),
    cells AS (
        SELECT dg.digit, COALESCE(o.observed, 0) AS observed
        FROM digits dg LEFT JOIN obs o ON o.digit = dg.digit
    ),
    tot AS (
        SELECT digit, observed,
               CAST(SUM(observed) OVER () AS BIGINT) AS total,
               ((CAST(ROUND(ln(digit + 1) * 1e9, 0) AS BIGINT)
                 - CAST(ROUND(ln(digit) * 1e9, 0) AS BIGINT)) * 1000000)
                 // CAST(ROUND(ln(10) * 1e9, 0) AS BIGINT) AS expected_ppm
        FROM cells
    )
    SELECT digit, observed,
           CAST((1000000 * observed) // NULLIF(total, 0) AS BIGINT)
             AS observed_ppm,
           CAST(expected_ppm AS BIGINT) AS expected_ppm,
           CAST((1000000 * observed) // NULLIF(total, 0) - expected_ppm
                AS BIGINT) AS excess_ppm
    FROM tot ORDER BY digit
"""


@register("benford_digit_audit", oracle=_BENFORD_ORACLE)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of the money column vs
    Benford's law — the classic synthetic-data / fraud screen. Expected
    frequencies log10(1 + 1/d) come from the nano-quantized integer-ln
    discipline ((ln(d+1) - ln(d)) * 1e6 div ln(10), every ln on an
    integer literal), so expected_ppm is the identical BIGINT in both
    engines. The digit is string-extracted from exact integer cents —
    no float log10/pow in the per-row path. Densified over all 9 digits
    (an absent digit is itself the finding).

    Scale: one hash aggregate to 9 rows; everything after is constant-
    size. The per-row path is substring(cast) — codegen'd, no UDF."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pos = e.select(cents.alias("cents")).filter(F.col("cents") > 0)
    obs = pos.groupBy(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    cells = (
        digits.join(F.broadcast(obs), "digit", "left")
        .select(
            "digit", F.coalesce("observed", F.lit(0)).cast("long").alias("observed")
        )
    )
    expected = F.expr(
        "((cast(round(ln(digit + 1) * 1e9, 0) as bigint)"
        "  - cast(round(ln(digit) * 1e9, 0) as bigint)) * 1000000)"
        " div cast(round(ln(10) * 1e9, 0) as bigint)"
    )
    tot = cells.select(
        "digit",
        "observed",
        F.sum("observed").over(Window.partitionBy()).cast("long").alias("total"),
        expected.alias("expected_ppm"),
    )
    return tot.select(
        "digit",
        "observed",
        F.expr("(1000000 * observed) div nullif(total, 0)").alias("observed_ppm"),
        F.col("expected_ppm").cast("long").alias("expected_ppm"),
        (
            F.expr("(1000000 * observed) div nullif(total, 0)")
            - F.col("expected_ppm")
        ).alias("excess_ppm"),
    ).orderBy("digit")


_TCLOSE_ORACLE = """
    WITH r AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(length(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                                AS VARCHAR)) AS BIGINT) AS bucket
        FROM events
    ),
    gdist AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS q FROM r GROUP BY bucket
    ),
    gcum AS (
        SELECT bucket,
               CAST(SUM(q) OVER (ORDER BY bucket) AS BIGINT) AS cum_q,
               CAST(SUM(q) OVER () AS BIGINT) AS n,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM gdist
    ),
    grp AS (
        SELECT event_type, day, bucket, CAST(COUNT(*) AS BIGINT) AS p
        FROM r GROUP BY event_type, day, bucket
    ),
    qi AS (
        SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_g
        FROM r GROUP BY event_type, day
    ),
    cells AS (
        SELECT qi.event_type, qi.day, qi.n_g, g.bucket,
               COALESCE(grp.p, 0) AS p
        FROM qi CROSS JOIN (SELECT bucket FROM gdist) g
        LEFT JOIN grp ON grp.event_type = qi.event_type
                     AND grp.day = qi.day AND grp.bucket = g.bucket
    ),
    cum AS (
        SELECT event_type, day, n_g, bucket,
               CAST(SUM(p) OVER (PARTITION BY event_type, day
                                 ORDER BY bucket) AS BIGINT) AS cum_p
        FROM cells
    ),
    gaps AS (
        SELECT c.event_type, c.day, c.n_g, gc.n, gc.m,
               ABS(c.cum_p * gc.n - gc.cum_q * c.n_g) AS gap
        FROM cum c JOIN gcum gc ON gc.bucket = c.bucket
    ),
    agg AS (
        SELECT event_type, day, n_g,
               (1000000 * CAST(SUM(gap) AS BIGINT))
                 // NULLIF((m - 1) * n_g * n, 0) AS emd_ppm
        FROM gaps GROUP BY event_type, day, n_g, n, m
    )
    SELECT event_type, day, n_g AS n, CAST(emd_ppm AS BIGINT) AS emd_ppm,
           emd_ppm >= 200000 AS t_violation
    FROM agg ORDER BY event_type, day
"""


@register("t_closeness_audit", oracle=_TCLOSE_ORACLE)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian 2007) over the ordered
    sensitive attribute "money magnitude" (decimal digit count of exact
    integer cents — an ordered, bounded bucketing with no libm): for
    each QI group (event_type, day), the Earth Mover's Distance between
    the group's bucket distribution and the global one,
    EMD = sum_i |cumP_i - cumQ_i| / (m - 1), as an exact ppm integer via
    count cross-multiplication. EMD >= 0.2 violates t-closeness — the
    group's value profile leaks through the quasi-identifiers.
    Completes the privacy trio with k-anonymity and l-diversity.

    Scale: counts-first (two hash aggregates), then a bounded
    |QI groups| x |buckets| grid (buckets <= digits of max cents, ~6).
    int64 bound: 1e6 * (m-1) * n_g * N < 9.2e18 holds to ~1e7-row
    corpora with 1e5-row groups; past that, per-bucket ppm floor-div
    before the sum (deterministic, epsilon-coarser EMD)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    r = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.length(cents.cast("string")).cast("long").alias("bucket"),
    )
    glob = r.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("q"))
    gcum = glob.select(
        "bucket",
        F.sum("q")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_q"),
        F.sum("q").over(Window.partitionBy()).cast("long").alias("n"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    )
    grp = r.groupBy("event_type", "day", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("p")
    )
    qi = r.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    cells = (
        qi.crossJoin(F.broadcast(glob.select("bucket")))
        .join(grp, ["event_type", "day", "bucket"], "left")
        .select(
            "event_type",
            "day",
            "n_g",
            "bucket",
            F.coalesce("p", F.lit(0)).cast("long").alias("p"),
        )
    )
    cum = cells.select(
        "event_type",
        "day",
        "n_g",
        "bucket",
        F.sum("p")
        .over(
            Window.partitionBy("event_type", "day")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum_p"),
    )
    gaps = cum.join(F.broadcast(gcum), "bucket").select(
        "event_type",
        "day",
        "n_g",
        "n",
        "m",
        F.abs(F.col("cum_p") * F.col("n") - F.col("cum_q") * F.col("n_g")).alias(
            "gap"
        ),
    )
    agg = gaps.groupBy("event_type", "day", "n_g", "n", "m").agg(
        F.expr(
            "(1000000 * cast(sum(gap) as bigint))"
            " div nullif((m - 1) * n_g * n, 0)"
        ).alias("emd_ppm")
    )
    return agg.select(
        "event_type",
        "day",
        F.col("n_g").alias("n"),
        F.col("emd_ppm").cast("long").alias("emd_ppm"),
        (F.col("emd_ppm") >= _T_PPM).alias("t_violation"),
    ).orderBy("event_type", "day")


# - `psi_value_drift` — Population Stability Index, the industry-standard
#   distribution-drift monitor (complements the rank family: KS/MWU catch
#   location shifts, chi-square tests independence, PSI quantifies
#   bucket-mass movement): PSI = sum_i (p_i - q_i) * ln(p_i / q_i)
#   between each event type's first-half and second-half value-magnitude
#   distributions (the 30-day window split at min_day + 15). Counts are
#   add-1 smoothed on a densified (event_type x bucket) grid, converted
#   to clamped ppm fractions, and each term is
#   (p_ppm - q_ppm) * (nano_ln(p_ppm) - nano_ln(q_ppm)) — non-negative by
#   construction, BIGINT-exact, summed then floor-divided by 1e9 so the
#   result is PSI in ppm. PSI >= 0.1 (100000 ppm) flags instability.


#: PSI instability threshold in ppm (0.1 nats)
_PSI_PPM = 100_000


_PSI_ORACLE = f"""
    WITH r AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(length(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                                AS VARCHAR)) AS BIGINT) AS bucket
        FROM events
    ),
    half AS (
        SELECT event_type, bucket,
               CASE WHEN day < (SELECT MIN(day) FROM r) + 15
                    THEN 0 ELSE 1 END AS h
        FROM r
    ),
    cnt AS (
        SELECT event_type, bucket, h, CAST(COUNT(*) AS BIGINT) AS c
        FROM half GROUP BY event_type, bucket, h
    ),
    grid AS (
        SELECT et.event_type, b.bucket, h.h
        FROM (SELECT DISTINCT event_type FROM r) et
        CROSS JOIN (SELECT DISTINCT bucket FROM r) b
        CROSS JOIN (SELECT 0 AS h UNION ALL SELECT 1) h
    ),
    sm AS (
        SELECT g.event_type, g.bucket, g.h,
               COALESCE(c.c, 0) + 1 AS a
        FROM grid g LEFT JOIN cnt c
          ON c.event_type = g.event_type AND c.bucket = g.bucket
         AND c.h = g.h
    ),
    norm AS (
        SELECT event_type, bucket, h, a,
               CAST(SUM(a) OVER (PARTITION BY event_type, h) AS BIGINT)
                 AS tot
        FROM sm
    ),
    ppm AS (
        SELECT event_type, bucket, h,
               GREATEST((1000000 * a) // tot, 1) AS p
        FROM norm
    ),
    pair AS (
        SELECT p0.event_type, p0.bucket, p0.p AS p, p1.p AS q
        FROM ppm p0 JOIN ppm p1
          ON p1.event_type = p0.event_type AND p1.bucket = p0.bucket
         AND p0.h = 0 AND p1.h = 1
    ),
    terms AS (
        SELECT event_type,
               (p - q) * (CAST(ROUND(ln(p) * 1e9, 0) AS BIGINT)
                          - CAST(ROUND(ln(q) * 1e9, 0) AS BIGINT)) AS t
        FROM pair
    )
    SELECT event_type,
           CAST(CAST(SUM(t) AS BIGINT) // 1000000000 AS BIGINT) AS psi_ppm,
           CAST(SUM(t) AS BIGINT) // 1000000000 >= {_PSI_PPM} AS unstable
    FROM terms GROUP BY event_type ORDER BY event_type
"""


@register("psi_value_drift", oracle=_PSI_ORACLE)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each event type's value-magnitude
    distribution (decimal digit count of exact integer cents), first
    half of the 30-day window vs second half. See module docstring."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # ONE events scan + ONE partial-aggregated shuffle: everything
    # downstream (the half split, the smoothing grid's distinct event
    # types / buckets, min(day)) derives from the tiny (type, day,
    # bucket) count relation instead of re-scanning events per leg
    # (round-13 opt: the 4-scan form compiled to 21 scans / 78
    # exchanges and 18 jobs; this one is 1 scan of events). The
    # relation is O(types x days x digit-buckets) — calendar-sized,
    # safe to reference repeatedly at any corpus scale.
    base = store.keep(
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.length(cents.cast("string")).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bc"))
    )
    min_day = base.agg(F.min("day").alias("d0"))
    half = base.crossJoin(F.broadcast(min_day)).select(
        "event_type",
        "bucket",
        F.when(F.col("day") < F.date_add(F.col("d0"), 15), F.lit(0))
        .otherwise(F.lit(1))
        .alias("h"),
        "bc",
    )
    cnt = half.groupBy("event_type", "bucket", "h").agg(
        F.sum("bc").cast("long").alias("c")
    )
    ets = base.select("event_type").distinct()
    bks = base.select("bucket").distinct()
    hs = spark.range(2).select(F.col("id").cast("int").alias("h"))
    grid = ets.crossJoin(F.broadcast(bks)).crossJoin(F.broadcast(hs))
    sm = grid.join(cnt, ["event_type", "bucket", "h"], "left").select(
        "event_type",
        "bucket",
        "h",
        (F.coalesce("c", F.lit(0)) + 1).cast("long").alias("a"),
    )
    norm = sm.select(
        "event_type",
        "bucket",
        "h",
        "a",
        F.sum("a")
        .over(Window.partitionBy("event_type", "h"))
        .cast("long")
        .alias("tot"),
    )
    ppm = norm.select(
        "event_type",
        "bucket",
        "h",
        F.greatest(F.expr("(1000000 * a) div tot"), F.lit(1)).alias("p"),
    )
    p0 = ppm.filter(F.col("h") == 0).select(
        "event_type", "bucket", F.col("p").alias("p")
    )
    p1 = ppm.filter(F.col("h") == 1).select(
        "event_type", "bucket", F.col("p").alias("q")
    )
    terms = p0.join(p1, ["event_type", "bucket"]).select(
        "event_type",
        (
            (F.col("p") - F.col("q"))
            * (_nano_ln(F.col("p")) - _nano_ln(F.col("q")))
        ).alias("t"),
    )
    return (
        terms.groupBy("event_type")
        .agg(F.expr("cast(sum(t) as bigint) div 1000000000").alias("psi_ppm"))
        .select(
            "event_type",
            F.col("psi_ppm").cast("long").alias("psi_ppm"),
            (F.col("psi_ppm") >= _PSI_PPM).alias("unstable"),
        )
        .orderBy("event_type")
    )


# `cms_heavy_hitters` is the VOCABULARY heavy-hitter report built on a
# Count-Min Sketch. Two sketch-family entries precede it:
# `countmin_heavy_hitters` (the CMS ACCURACY AUDIT over
# per-user event counts: every probe estimated, overcount surfaced, no
# selection) and `heavy_hitters_mg` (text_tokenizer.py — the EXACT > n/k word
# set via Misra-Gries partials). This entry is the piece a corpus owner
# actually reads: the phi-threshold CUT (keep terms whose CMS estimate
# clears ceil(N/100) of N occurrences) with a deterministic top-50 report
# under ties — selection semantics neither sibling has — and its sketch
# is built from the DISTINCT-WORD count relation (md5 cost per distinct
# word weighted by count, not per occurrence), the right build shape when
# exact counts are computed anyway. The one-sided error law (an estimate
# can only OVERCOUNT, by hash collision) is not asserted, it is EMITTED
# as an exact per-term `overcount` column and checked by the oracle hash.
#
# Scale shape: the sketch is THE textbook bounded sufficient statistic —
# D*W = 4096 cells regardless of corpus size, built by partial-aggregated
# hash aggregation and broadcast back for lookups
# (`sketch.countmin_estimate`); at 100 TB the token stream reduces
# map-side to the distinct-word relation before any md5 is computed
# (hashing cost is per distinct word, not per occurrence), the estimate
# join broadcasts the 4096-row sketch, and the phi threshold is a 1-row
# scalar broadcast. Buckets are the sketch module's md5-hex4 "seed|word"
# buckets, mirrored by `oracle_sql.countmin_sql`, so both engines compute
# bit-identical sketches — the collision pattern itself is part of the
# parity contract.


# --- Count-Min-Sketch heavy hitters ------------------------------------------

#: sketch width (buckets per hash row; sketch.CMS_D rows)
_WORD_CMS_W = 1024
#: heavy-hitter rule: estimate >= ceil(N / _CMS_PHI_DIV) of N occurrences
_CMS_PHI_DIV = 100
_CMS_TOP = 50


_CMS_ORACLE = rf"""
    WITH tok AS (
        SELECT unnest({words_sql}) AS w
        FROM documents
    ),
    wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w
    ),
    est AS ({countmin_sql("wc", "w", "cnt", _WORD_CMS_W)}),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST((SUM(cnt) + {_CMS_PHI_DIV - 1}) // {_CMS_PHI_DIV}
                    AS BIGINT) AS thr
        FROM wc
    )
    SELECT w AS term,
           est_count,
           cnt AS exact_count,
           CAST(est_count - cnt AS BIGINT) AS overcount,
           CAST(cnt >= thr AS BIGINT) AS heavy_exact
    FROM est CROSS JOIN tot
    WHERE est_count >= thr
    ORDER BY est_count DESC, term
    LIMIT {_CMS_TOP}
"""


@register("cms_heavy_hitters", oracle=_CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top heavy-hitter terms by Count-Min-Sketch estimate, with the
    exact count and the (provably non-negative) overcount alongside.
    See the comment above for the sketch geometry and scale shape."""
    d = load_table(spark, sf_dir, "documents")
    wc = store.keep(
        d.select(F.explode(text_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    est = sketch.countmin_estimate(wc, "w", "cnt", _WORD_CMS_W)
    tot = wc.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.expr(
            f"CAST((sum(cnt) + {_CMS_PHI_DIV - 1}) div {_CMS_PHI_DIV}"
            " AS BIGINT)"
        ).alias("thr"),
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("est_count") >= F.col("thr"))
        .select(
            F.col("w").alias("term"),
            "est_count",
            F.col("cnt").alias("exact_count"),
            (F.col("est_count") - F.col("cnt")).cast("long").alias("overcount"),
            (F.col("cnt") >= F.col("thr")).cast("long").alias("heavy_exact"),
        )
        .orderBy(F.col("est_count").desc(), "term")
        .limit(_CMS_TOP)
    )
