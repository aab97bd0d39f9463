"""Round-5 additions: downstream consumers that make the round-4
diagnosis queries load-bearing.

``dataset_mix_temperature`` and ``join_skew_profile`` were leaf reports:
correct, but nothing consumed their output. Each gets one composed
consumer here — the mix quotas drive an actual per-source subsample, and
the skew profile drives the salt-count choice of a salted aggregation —
so a regression in either diagnosis now breaks a hash-checked consumer,
not just its own oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import hex_int
from ..operators.text import words as text_words
from .oracle_sql import hash_bucket_sql, words_sql
from .registry import ORACLE, load_table, register
from .round4 import dataset_mix_temperature, join_skew_profile


# ---------------------------------------------------------------------------
# Temperature-mix application: quotas -> keep rates -> actual subsample.
# The standard recipe for realizing target shares w_s from source sizes
# n_s by subsampling: keep rate r_s = C * w_s / n_s with C = min_s
# (n_s / w_s), so the scarcest source keeps everything and every other
# source is downsampled to match the target composition. All arithmetic
# is integer (ppm units) so both engines floor identically, and
# membership is the same 4-hex-digit md5 bucket every sampler in this
# repo uses (deterministic, partition-invariant, nested across rate
# changes).
# ---------------------------------------------------------------------------


def _mix_apply_oracle() -> str:
    return f"""
    WITH mix AS ({ORACLE["dataset_mix_temperature"]}),
    cal AS (
        SELECT CAST(MIN(n_docs * 1000000 // quota_ppm) AS BIGINT) AS c
        FROM mix
    ),
    rates AS (
        -- divide-before-multiply (exact via the remainder term): the
        -- naive quota_ppm * c can reach n_docs * 1e12 and overflow
        -- BIGINT at very large corpora; this form's intermediates are
        -- bounded by max(keep_ppm, quota_ppm * (n_docs - 1)) ~ 1e6 * n_docs
        SELECT source, n_docs,
               CAST(quota_ppm * ((SELECT c FROM cal) // n_docs)
                    + (quota_ppm * ((SELECT c FROM cal) % n_docs)) // n_docs
                 AS BIGINT) AS keep_ppm
        FROM mix
    ),
    kept AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {hash_bucket_sql('d.doc_id')} * 1000000 < r.keep_ppm * 65536
        GROUP BY d.source
    ),
    tot AS (SELECT CAST(SUM(n_kept) AS BIGINT) AS tk FROM kept)
    SELECT r.source, r.n_docs, r.keep_ppm,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST((COALESCE(k.n_kept, 0) * 1000000) // (SELECT tk FROM tot)
                AS BIGINT) AS achieved_share_ppm
    FROM rates r LEFT JOIN kept k USING (source)
    ORDER BY source
    """


@register("mix_apply_temperature", oracle=_mix_apply_oracle())
def mix_apply_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applies the ``dataset_mix_temperature`` quotas as an actual
    per-source subsample and reports target-vs-achieved composition.

    Composes the registered diagnosis query verbatim (its quota_ppm
    column IS the target share), calibrates keep rates so the scarcest
    source keeps 100%, and filters the documents table on the
    deterministic doc_id hash bucket. The rates relation is
    dimension-sized and broadcast; the only corpus-scale work is one
    map-side filter + one partial-aggregated count — the exact shape a
    100 TB mixing job runs before writing shards. quota_ppm is bounded
    away from zero for any source with >= 1 doc at realistic source
    counts (share < 1 ppm would floor to 0 and is rejected by the
    calibration MIN's divide)."""
    # round-14 probe, REJECTED (guide §1.1 empirical loop): persisting
    # the composed diagnosis relation (referenced by cal + rates twice;
    # the compiled tree shows 31 documents scans / 110 Exchanges) was
    # measured cold 1.35 -> 3.13 s with warm UNCHANGED (1.16 s) — the
    # entry's cost is per-job fixed overhead (14 jobs warm: broadcast
    # exchanges + AQE stages over dimension-sized relations), not
    # subtree re-execution; the documents aggregate itself runs in
    # 0.15 s and the duplicated subtrees are all post-aggregate 20-row
    # work. At 100 TB the same holds: every duplicated evaluation is
    # O(sources). Left alone.
    mix = dataset_mix_temperature(spark, sf_dir)
    cal = mix.agg(
        F.min(F.expr("n_docs * 1000000 div quota_ppm")).cast("long").alias("c")
    )
    rates = (
        mix.crossJoin(F.broadcast(cal))
        .select(
            "source",
            "n_docs",
            # divide-before-multiply, exact via the remainder term:
            # (q*c) div n == q*(c div n) + (q*(c mod n)) div n for
            # non-negative integers — intermediates stay <= ~1e6 * n_docs
            # (BIGINT-safe to n_docs ~ 9e12) where the naive product
            # could silently wrap in non-ANSI Spark while DuckDB raises
            F.expr(
                "quota_ppm * (c div n_docs)"
                " + (quota_ppm * (c % n_docs)) div n_docs"
            ).cast("long").alias("keep_ppm"),
        )
    )
    d = load_table(spark, sf_dir, "documents")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")))
    kept = (
        d.join(F.broadcast(rates.select("source", "keep_ppm")), "source")
        .where(bucket * F.lit(1000000) < F.col("keep_ppm") * F.lit(65536))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    tot = kept.agg(F.sum("n_kept").cast("long").alias("tk"))
    return (
        rates.join(kept, "source", "left")
        .withColumn("n_kept", F.coalesce("n_kept", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "keep_ppm",
            "n_kept",
            F.expr("(n_kept * 1000000) div tk")
            .cast("long")
            .alias("achieved_share_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Skew-adaptive salted aggregation: the profile chooses the salt count.
# Thresholds double per step — a skew factor of k means the hottest key
# holds k partitions' worth of rows, so ~k-way splitting levels it; the
# CASE ladder is the integer-exact form both engines state identically.
# ---------------------------------------------------------------------------

_SALT_LADDER_SQL = """
    CASE WHEN skew_factor_milli >= 8000 THEN 16
         WHEN skew_factor_milli >= 4000 THEN 8
         WHEN skew_factor_milli >= 2000 THEN 4
         WHEN skew_factor_milli >= 1250 THEN 2
         ELSE 1 END
"""


def _salts_from_profile(skew_factor_milli: int) -> int:
    # mirror of _SALT_LADDER_SQL, applied driver-side to the 1-row profile
    for threshold, salts in ((8000, 16), (4000, 8), (2000, 4), (1250, 2)):
        if skew_factor_milli >= threshold:
            return salts
    return 1


def _skew_adaptive_oracle() -> str:
    return f"""
    WITH prof AS ({ORACLE["join_skew_profile"]}),
    chosen AS (SELECT {_SALT_LADDER_SQL} AS n FROM prof),
    counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST((SELECT n FROM chosen) AS BIGINT) AS salts_used
    FROM counts ORDER BY n_events DESC, user_id LIMIT 10
    """


@register("skew_adaptive_salted_agg", oracle=_skew_adaptive_oracle())
def skew_adaptive_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest event users via a salted two-stage aggregation
    whose salt count is CHOSEN from the measured ``join_skew_profile``
    (the profile is finally load-bearing: mis-measuring skew changes
    salts_used and fails the hash check).

    The profile collect is ONE row — bounded plan-choice driver work,
    the same class as AQE's runtime statistics. The aggregation itself
    runs as groupBy(user_id, salt) partials then a keys-sized merge:
    semantically identical to the plain groupBy (the oracle states the
    plain form), physically resistant to a single pathological key that
    AQE cannot subdivide inside one aggregation group. Salting must
    change NOTHING about the result — that invariant is what the
    cross-engine hash proves."""
    prof = join_skew_profile(spark, sf_dir).collect()
    skew = prof[0]["skew_factor_milli"] if prof else None
    salts = _salts_from_profile(skew) if skew is not None else 1
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(salts))
    )
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("_c")
    )
    merged = partial.groupBy("user_id").agg(
        F.sum("_c").cast("long").alias("n_events")
    )
    return (
        merged.orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
        .withColumn("salts_used", F.lit(salts).cast("long"))
    )


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
# Reproducible global training shuffle, hash-range sharded. A training
# run needs a deterministic global permutation of the corpus (same seed
# -> same order on any cluster, any partitioning) WITHOUT a global sort:
# the shard is the top bits of a seeded hash (terasort's range idea with
# the hash AS the range key), so the "shuffle" is one partial-aggregated
# groupBy — no total-order sort, no row_number bottleneck. Each shard's
# source composition approximates the corpus mix (the well-mixedness a
# training shuffle exists to provide), which the per-shard
# distinct-source count makes checkable cross-engine.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "s42:"
_N_TRAIN_SHARDS = 16


@register(
    "training_shuffle_shards",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, n_chars,
               {hash_bucket_sql(f"'{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)")}
                 AS hv
        FROM documents
    )
    SELECT CAST(hv // {65536 // _N_TRAIN_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(hv) AS BIGINT) AS hv_min,
           CAST(MAX(hv) AS BIGINT) AS hv_max
    FROM h GROUP BY shard ORDER BY shard
    """,
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle + 16-way sharding of the
    corpus. Re-running with the same seed reproduces the identical
    shard assignment on any partitioning (pure function of doc_id);
    changing the seed is a fresh permutation. hv_min/hv_max document
    the disjoint hash ranges (shards ARE hash ranges); n_sources shows
    every shard draws from the full source mix."""
    d = load_table(spark, sf_dir, "documents")
    hv = hex_int(F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))))
    width = 65536 // _N_TRAIN_SHARDS
    return (
        d.select("source", "n_chars", hv.alias("hv"))
        .groupBy(F.expr(f"hv div {width}").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("hv").cast("long").alias("hv_min"),
            F.max("hv").cast("long").alias("hv_max"),
        )
        .orderBy("shard")
    )


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
# Distinctive vocabulary per source — smoothed log-odds ratio with an
# informative 0.5 prior and its z-score (Monroe/Colaresi/Quinn,
# "Fightin' Words", 2008): the corpus-comparison tool that surfaces
# WHICH words make a source different, with variance-aware ranking
# (raw log-odds over-ranks rare words; the z divides by the count-based
# uncertainty). Parity discipline: each ln() quantizes to nano units
# IMMEDIATELY (the repo's rule for libm-scored rankings), the z is
# emitted as an exact micro-unit BIGINT, and ties break on the word —
# the output is all-integer, so the cross-engine hash cannot drift.
# ---------------------------------------------------------------------------

_DISTINCT_MIN_CORPUS_COUNT = 20
_DISTINCT_TOP_K = 5


@register(
    "source_distinctive_terms",
    oracle=rf"""
    WITH wx AS (
        SELECT source, unnest({words_sql}) AS w
        FROM documents
    ),
    sw AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS y
        FROM wx GROUP BY source, w
    ),
    wtot AS (
        SELECT w, CAST(SUM(y) AS BIGINT) AS yw FROM sw GROUP BY w
        HAVING SUM(y) >= {_DISTINCT_MIN_CORPUS_COUNT}
    ),
    stot AS (SELECT source, CAST(SUM(y) AS BIGINT) AS ns FROM sw GROUP BY source),
    tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM sw),
    scored AS (
        SELECT s.source, s.w, s.y,
               CAST(ROUND(ln((s.y + 0.5) / (st.ns - s.y + 0.5))
                          * 1000000000, 0) AS BIGINT)
             - CAST(ROUND(ln((wt.yw - s.y + 0.5)
                             / (t.n - st.ns - (wt.yw - s.y) + 0.5))
                          * 1000000000, 0) AS BIGINT) AS lo_nano,
               sqrt(1.0 / (s.y + 0.5) + 1.0 / (wt.yw - s.y + 0.5)) AS sd
        FROM sw s
        JOIN wtot wt ON wt.w = s.w
        JOIN stot st ON st.source = s.source
        CROSS JOIN tot t
    ),
    z AS (
        SELECT source, w, y,
               CAST(ROUND(lo_nano / (1000.0 * sd), 0) AS BIGINT) AS z_micro
        FROM scored
    ),
    ranked AS (
        SELECT source, w, y, z_micro,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY z_micro DESC, w) AS rk
        FROM z
    )
    SELECT source, CAST(rk AS BIGINT) AS rk, w AS word, y AS n_in_source,
           z_micro
    FROM ranked WHERE rk <= {_DISTINCT_TOP_K}
    ORDER BY source, rk
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most distinctive words per source by smoothed log-odds
    z-score. One corpus tokenization pass collapses to the (source,
    word) count relation; everything after is vocabulary-sized
    (word-total and source-total dimensions broadcast). At 100 TB the
    shuffle carries counts, never text, and the min-corpus-count gate
    bounds the scored vocabulary."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    wx = d.select(
        "source",
        # round 13: codegen tokenizer (see operators.text.words)
        F.explode(text_words(F.col("text"))).alias("w"),
    )
    sw = wx.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wtot = (
        sw.groupBy("w")
        .agg(F.sum("y").cast("long").alias("yw"))
        .where(F.col("yw") >= _DISTINCT_MIN_CORPUS_COUNT)
    )
    stot = sw.groupBy("source").agg(F.sum("y").cast("long").alias("ns"))
    tot = sw.agg(F.sum("y").cast("long").alias("n"))
    lo_nano = (
        F.round(F.log((F.col("y") + 0.5) / (F.col("ns") - F.col("y") + 0.5)) * 1e9, 0).cast("long")
        - F.round(
            F.log(
                (F.col("yw") - F.col("y") + 0.5)
                / (F.col("n") - F.col("ns") - (F.col("yw") - F.col("y")) + 0.5)
            )
            * 1e9,
            0,
        ).cast("long")
    )
    sd = F.sqrt(1.0 / (F.col("y") + 0.5) + 1.0 / (F.col("yw") - F.col("y") + 0.5))
    z = (
        sw.join(F.broadcast(wtot), "w")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "y",
            F.round(lo_nano / (1000.0 * sd), 0).cast("long").alias("z_micro"),
        )
    )
    win = Window.partitionBy("source").orderBy(F.col("z_micro").desc(), "w")
    return (
        z.withColumn("rk", F.row_number().over(win).cast("long"))
        .where(F.col("rk") <= _DISTINCT_TOP_K)
        .select(
            "source", "rk", F.col("w").alias("word"),
            F.col("y").alias("n_in_source"), "z_micro",
        )
        .orderBy("source", "rk")
    )
