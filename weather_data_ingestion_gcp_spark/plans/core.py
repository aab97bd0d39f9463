"""Core query inventory — the reference's operator families (SURVEY.md §2)
re-expressed over the driver's TPC-H-ish tables, each with a DuckDB oracle.

Every query here is pure DataFrame API compiled by Catalyst: filters and
projections push into the parquet scan, small dimensions broadcast, and
aggregations run partial+final with a single shuffle. Literals replace
``current_date()`` (nondeterministic across engines — SURVEY.md §5).

Reference citations are given per query (file:line in /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.layout import spread_small
from .registry import load_table, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _cents(col: str = "value"):
    """Per-row exact integer cents for a 2-decimal money double.

    SUM over doubles accumulates in engine- and partitioning-specific
    order, so rounding the raw double sum can flip a half-cent boundary
    between Spark and the DuckDB oracle (or between two Spark
    partitionings — the driver's sessionize_events red row in round 2).
    The generator emits exact 2-decimal values, so quantizing each row
    to BIGINT cents first makes the sum exact and order-free; the single
    final division by 100.0 is identical IEEE arithmetic everywhere.
    Oracle mirror: ``SUM(CAST(ROUND(col * 100, 0) AS BIGINT)) / 100.0``.
    """
    return F.round(F.col(col) * 100, 0).cast("long")


# ---------------------------------------------------------------------------
# Flagship: the daily rollup (sp_raw_to_transformed_create_weather_data_query
# .sql:26-55) transplanted onto the `events` stream table: GROUP BY day (A1),
# multi-aggregate single pass (A2-A6), ROUND (F2), EXTRACT MONTH (F3),
# CASE-over-aggregate till_time/EOD watermark (F4/T5), ORDER BY dt.
# ---------------------------------------------------------------------------
@register(
    "daily_rollup_events",
    oracle="""
    SELECT dt,
           ROUND(AVG(value), 2)                    AS avg_value,
           ROUND(MAX(value), 2)                    AS max_value,
           ROUND(MIN(value), 2)                    AS min_value,
           COUNT(*)                                AS n_events,
           COUNT(DISTINCT user_id)                 AS n_users,
           CAST(EXTRACT(MONTH FROM dt) AS BIGINT)  AS month,
           CASE WHEN MAX(tod) > '23:00:00' THEN 'EOD' ELSE MAX(tod) END AS till_time
    FROM (SELECT CAST(ts AS DATE) AS dt,
                 strftime(ts, '%H:%M:%S') AS tod,
                 value, user_id
          FROM events)
    GROUP BY dt
    ORDER BY dt
    """,
)
def daily_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    max_tod = F.max(F.date_format("ts", "HH:mm:ss"))
    return (
        e.groupBy(F.to_date("ts").alias("dt"))
        .agg(
            F.round(F.avg("value"), 2).alias("avg_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.month(F.to_date("ts")).cast("long").alias("month"),
            F.when(max_tod > "23:00:00", F.lit("EOD")).otherwise(max_tod).alias("till_time"),
        )
        .orderBy("dt")
    )


# ---------------------------------------------------------------------------
# P1/P2/P11 — null-safe nested access, rename/restructure, JSON deserialize
# (clean_weather_data, Load-Data-From-API/main.py:79-143; ast.literal_eval,
# Load-logs/main.py:41). JSON prop extraction stays JVM-side.
# ---------------------------------------------------------------------------
@register(
    "clean_restructure_events",
    oracle="""
    SELECT event_id,
           upper(event_type)                                   AS event_class,
           value                                               AS amount,
           CAST(json_extract_string(props, '$.k') AS BIGINT)   AS prop_k,
           user_id                                             AS actor_id
    FROM events
    WHERE event_type IS NOT NULL
    """,
)
def clean_restructure_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type").isNotNull()).select(
        "event_id",
        F.upper("event_type").alias("event_class"),
        F.col("value").alias("amount"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.col("user_id").alias("actor_id"),
    )


# ---------------------------------------------------------------------------
# P13 — equality-dispatch filter ("collect-weather-data" gate,
# Load-Data-From-API/main.py:168; Cleanup-job/main.py:42).
# ---------------------------------------------------------------------------
@register(
    "filter_dispatch",
    oracle="""
    SELECT user_id, COUNT(*) AS n_clicks,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS click_value
    FROM events WHERE event_type = 'click'
    GROUP BY user_id ORDER BY user_id
    """,
)
def filter_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            (F.sum(_cents()) / 100.0).alias("click_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# P14 — single-day predicate (WHERE dt = CURRENT_DATE(), sp_...update...sql:32),
# pinned to a literal for oracle determinism; partition-prunable shape.
# ---------------------------------------------------------------------------
@register(
    "date_filter_single_day",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem WHERE CAST(l_shipdate AS DATE) = DATE '1998-06-15'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def date_filter_single_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.to_date("l_shipdate") == F.lit("1998-06-15").cast("date"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# P15/S13/T8 — retention cutoff (DELETE dt <= CURRENT_DATE()-15,
# Cleanup-job/sp_raw_cleanup_15days_older_data_query.sql:2) as the
# keep-side filter-rewrite, cutoff pinned.
# ---------------------------------------------------------------------------
@register(
    "retention_keep_side",
    oracle="""
    SELECT event_type, COUNT(*) AS kept
    FROM events WHERE CAST(ts AS DATE) > DATE '2024-01-16'
    GROUP BY event_type ORDER BY event_type
    """,
)
def retention_keep_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.to_date("ts") > F.lit("2024-01-16").cast("date"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("kept"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# P7 — regex filename cleanup (re.findall + replace, Load-gcs-to-bq/
# main.py:38-47) over synthesized reference-shaped filenames.
# ---------------------------------------------------------------------------
@register(
    "regex_filename_cleanup",
    oracle=r"""
    SELECT regexp_replace(fn, '-json-\d{8}-\d{2}:\d{2}:\d{2}', '') AS cleaned,
           COUNT(*) AS n
    FROM (SELECT 'hourly-weather-data-json-' || strftime(ts, '%Y%m%d-%H:%M:%S') || '.json' AS fn
          FROM events)
    GROUP BY cleaned ORDER BY cleaned
    """,
)
def regex_filename_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    fn = F.concat(
        F.lit("hourly-weather-data-json-"),
        F.date_format("ts", "yyyyMMdd-HH:mm:ss"),
        F.lit(".json"),
    )
    return (
        e.select(F.regexp_replace(fn, r"-json-\d{8}-\d{2}:\d{2}:\d{2}", "").alias("cleaned"))
        .groupBy("cleaned")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cleaned")
    )


# ---------------------------------------------------------------------------
# P8 — path-stem extraction (Path(name).stem, Load-gcs-to-bq/main.py:66).
# ---------------------------------------------------------------------------
@register(
    "path_stem_extract",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(source || '/doc-' || CAST(doc_id AS VARCHAR) || '.json',
                          '([^/]+?)(\.[^./]*)?$', 1) AS stem
    FROM documents ORDER BY doc_id
    """,
)
def path_stem_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    path = F.concat(F.col("source"), F.lit("/doc-"), F.col("doc_id").cast("string"), F.lit(".json"))
    return d.select(
        "doc_id",
        F.regexp_extract(path, r"([^/]+?)(\.[^./]*)?$", 1).alias("stem"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# P9 — small-map routing lookup (FILE_TABLE_MAP, Load-gcs-to-bq/main.py:15-17,
# 67,70): a broadcast hash join against a tiny inline dimension; unmatched
# rows drop (the reference's `if load_table:` None-filter).
# ---------------------------------------------------------------------------
_ROUTES = [("click", "t_click"), ("view", "t_view"), ("purchase", "t_purchase")]


@register(
    "broadcast_route_lookup",
    oracle="""
    SELECT r.target AS target, COUNT(*) AS n,
           SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) / 100.0 AS total
    FROM events e
    JOIN (VALUES ('click', 't_click'), ('view', 't_view'), ('purchase', 't_purchase'))
         AS r(event_type, target)
      ON e.event_type = r.event_type
    GROUP BY r.target ORDER BY target
    """,
)
def broadcast_route_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    routes = spark.createDataFrame(_ROUTES, "event_type string, target string")
    return (
        e.join(F.broadcast(routes), "event_type")  # BroadcastHashJoin by construction
        .groupBy("target")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(_cents()) / 100.0).alias("total"))
        .orderBy("target")
    )


# ---------------------------------------------------------------------------
# P10 — base64 decode (Pub/Sub payloads, Load-Data-From-API/main.py:166).
# Encode/decode roundtrip so both directions are checked.
# ---------------------------------------------------------------------------
@register(
    "base64_roundtrip",
    oracle="""
    SELECT doc_id,
           to_base64(CAST(source AS BLOB))                               AS b64,
           CAST(from_base64(to_base64(CAST(source AS BLOB))) AS VARCHAR) AS decoded
    FROM documents ORDER BY doc_id
    """,
)
def base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    b64 = F.base64(F.col("source").cast("binary"))
    return d.select(
        "doc_id",
        b64.alias("b64"),
        F.unbase64(b64).cast("string").alias("decoded"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# P6/P5 — path concat (log_type/message_type/file, Load-logs/main.py:48-50)
# and timestamp formatting (strftime patterns, main.py:16-19).
# ---------------------------------------------------------------------------
@register(
    "log_path_and_format",
    oracle="""
    SELECT concat_ws('/', event_type, CAST(user_id % 10 AS VARCHAR)) AS log_path,
           COUNT(*)                                                  AS n,
           MIN(strftime(ts, '%Y%m%d-%H:%M:%S'))                      AS first_runtime,
           MAX(strftime(ts, '%Y'))                                   AS yr
    FROM events
    GROUP BY log_path ORDER BY log_path
    """,
)
def log_path_and_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.concat_ws("/", F.col("event_type"), (F.col("user_id") % 10).cast("string")).alias(
                "log_path"
            ),
            F.date_format("ts", "yyyyMMdd-HH:mm:ss").alias("rt"),
            F.date_format("ts", "yyyy").alias("y"),
        )
        .groupBy("log_path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rt").alias("first_runtime"),
            F.max("y").alias("yr"),
        )
        .orderBy("log_path")
    )


# ---------------------------------------------------------------------------
# F5/S10 — month-grain partitioning expression (PARTITION BY DATE_TRUNC(dt,
# MONTH), sp_...create...sql:22-23) as a rollup by month start.
# ---------------------------------------------------------------------------
@register(
    "month_partition_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS volume
    FROM orders GROUP BY month_start ORDER BY month_start
    """,
)
def month_partition_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
        )
        .orderBy("month_start")
    )


# ---------------------------------------------------------------------------
# F4 — CASE over aggregates (the till_time rule) on finer groups so both
# branches occur (sp_...create...sql:45-49).
# ---------------------------------------------------------------------------
@register(
    "case_over_aggregate",
    oracle="""
    SELECT dt, event_type,
           CASE WHEN MAX(tod) > '22:30:00' THEN 'EOD' ELSE MAX(tod) END AS till_time,
           COUNT(*) AS n
    FROM (SELECT CAST(ts AS DATE) AS dt, strftime(ts, '%H:%M:%S') AS tod, event_type
          FROM events)
    GROUP BY dt, event_type ORDER BY dt, event_type
    """,
)
def case_over_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    max_tod = F.max(F.date_format("ts", "HH:mm:ss"))
    return (
        e.groupBy(F.to_date("ts").alias("dt"), "event_type")
        .agg(
            F.when(max_tod > "22:30:00", F.lit("EOD")).otherwise(max_tod).alias("till_time"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("dt", "event_type")
    )


# ---------------------------------------------------------------------------
# Joins (§2.5): the engine's standard join surface. Dimensions broadcast
# (region/nation/customer under the 64 MiB threshold at every tested SF);
# fact-fact joins shuffle on the key and AQE handles skew.
# ---------------------------------------------------------------------------
@register(
    "join_inner_agg",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS volume
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY segment ORDER BY segment
    """,
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
        )
        .orderBy("segment")
    )


@register(
    "join_left_order_counts",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey)
    GROUP BY n_orders ORDER BY n_orders
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers")).orderBy("n_orders")
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_mktsegment AS segment, COUNT(*) AS n_active
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    GROUP BY segment ORDER BY segment
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("segment")
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_mktsegment AS segment, COUNT(*) AS n_inactive
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY segment ORDER BY segment
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_inactive"))
        .orderBy("segment")
    )


@register(
    "join_full_outer_activity",
    oracle="""
    WITH cl AS (SELECT user_id, COUNT(*) AS n_clicks FROM events
                WHERE event_type = 'click' GROUP BY user_id),
    pu AS (SELECT user_id, COUNT(*) AS n_purchases FROM events
           WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT COALESCE(cl.user_id, pu.user_id)      AS user_id,
           CAST(COALESCE(n_clicks, 0) AS BIGINT)    AS n_clicks,
           CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases,
           (cl.user_id IS NOT NULL AND pu.user_id IS NOT NULL) AS did_both
    FROM cl FULL OUTER JOIN pu ON cl.user_id = pu.user_id
    ORDER BY user_id
    """,
)
def join_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one outer-join shape the suite lacked:
    clickers x purchasers with unmatched users preserved on BOTH sides.
    Both inputs are pre-aggregated to one row per user before the join
    (shuffle carries per-user counts, not raw events), and the full-outer
    requires a shuffle join by definition — broadcast can't preserve the
    build side's unmatched rows."""
    e = _t(spark, sf_dir, "events")
    cl = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    j = cl.withColumnRenamed("user_id", "cu").join(
        pu.withColumnRenamed("user_id", "pu"),
        F.col("cu") == F.col("pu"),
        "full_outer",
    )
    return j.select(
        F.coalesce("cu", "pu").alias("user_id"),
        F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
        (F.col("cu").isNotNull() & F.col("pu").isNotNull()).alias("did_both"),
    ).orderBy("user_id")


@register(
    "join_null_safe_buckets",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id % 5 END AS k,
               COUNT(*) AS n_click
        FROM events WHERE event_type = 'click' GROUP BY k
    ),
    b AS (
        SELECT CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id % 5 END AS k,
               COUNT(*) AS n_view
        FROM events WHERE event_type = 'view' GROUP BY k
    )
    SELECT a.k, CAST(n_click AS BIGINT) AS n_click,
           CAST(n_view AS BIGINT) AS n_view
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.k NULLS FIRST
    """,
)
def join_null_safe_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics a data-quality
    reconciliation needs when the join key is itself nullable. Both sides
    pre-aggregate to their distinct keys, so the null-safe comparison
    runs over bucket-count rows only."""
    e = _t(spark, sf_dir, "events")
    k = F.when(F.col("user_id") % 10 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 5
    )
    a = (
        e.filter(F.col("event_type") == "click")
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_click"))
    )
    b = (
        e.filter(F.col("event_type") == "view")
        .select(k.alias("ka"))
        .groupBy("ka")
        .agg(F.count(F.lit(1)).alias("n_view"))
    )
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("ka")))
        .select("k", "n_click", "n_view")
        .orderBy(F.col("k").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics — the multi-aggregate single-pass pattern (A6) and
# the multiway broadcast-then-shuffle join plan the engine must produce.
# ---------------------------------------------------------------------------
@register(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                    AS avg_qty,
           ROUND(AVG(l_extendedprice), 2)                               AS avg_price,
           ROUND(AVG(l_discount), 4)                                    AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey AS o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate  AS DATE) > DATE '1998-03-15'
    GROUP BY o.o_orderkey, orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
    GROUP BY nation ORDER BY revenue DESC, nation
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           c.c_acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, nation
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14_promo_effect",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-09-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1997-10-01'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-09-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-10-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(0.0)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_revenue_pct")
    )


@register(
    "tpch_q18_large_volume_customers",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS odate,
           o.o_totalprice, ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY c.c_custkey, o.o_orderkey, odate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 50
    """,
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_key"), li.l_orderkey == F.col("big_key"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_custkey", "o_orderkey", F.to_date("o_orderdate").alias("odate"), "o_totalprice"
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


@register(
    "tpch_q19_discounted_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "tpch_q17_small_quantity_avg",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def tpch_q17_small_quantity_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join — no per-row re-execution)."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("l_q17")
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView("p_q17")
    return spark.sql(
        """
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n
        FROM l_q17 l JOIN p_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                              FROM l_q17 l2 WHERE l2.l_partkey = l.l_partkey)
        """
    )


# ---------------------------------------------------------------------------
# Windows / sorts / top-k (§2.6 north-star): row_number keep-first is also
# the dedup primitive.
# ---------------------------------------------------------------------------
@register(
    "window_topk_per_group",
    oracle="""
    SELECT segment, c_custkey, c_acctbal, rk
    FROM (SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rk
          FROM customer)
    WHERE rk <= 3 ORDER BY segment, rk
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.col("c_custkey"))
    return (
        c.select(
            F.col("c_mktsegment").alias("segment"),
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("segment", "rk")
    )


@register(
    "window_rank_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK()         OVER w                     AS rnk,
           DENSE_RANK()   OVER w                     AS drnk,
           CAST(NTILE(4)  OVER w AS BIGINT)          AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6)           AS pct_rank,
           ROUND(CUME_DIST()    OVER w, 6)           AS cdist,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) AS range_sum
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family in one pass: both windows share the
    o_custkey partitioning, so Catalyst plans ONE exchange; the second
    Window node differs only in ordering/frame. RANGE frame with a value
    offset exercises range-based (not row-count) frame evaluation.
    percent_rank/cume_dist round at 6 dp (denominators are partition sizes
    << 99 — boundary-free)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(F.sum("o_totalprice").over(wr), 2).alias("range_sum"),
    ).orderBy("o_custkey", "o_orderkey")


#: One SQL text, both engines, verbatim — the reference's interface is SQL
#: strings handed to an engine (stored procedures), so the passthrough path
#: is part of API parity. Restricted to the ANSI subset both parsers share.
_SQL_PASSTHROUGH = """
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("sql_api_passthrough", oracle=_SQL_PASSTHROUGH)
def sql_api_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`run_sql` entry point: the ORACLE STRING ITSELF is executed by Spark
    (registry.register_views + spark.sql) — zero translation, proving the
    SQL surface accepts the same text the oracle runs."""
    from .registry import run_sql

    return run_sql(spark, sf_dir, _SQL_PASSTHROUGH)


@register(
    "datetime_function_breadth",
    oracle="""
    WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
               FROM orders WHERE o_orderkey < 3000)
    SELECT o_orderkey,
           EXTRACT(YEAR FROM d)                         AS y,
           EXTRACT(QUARTER FROM d)                      AS q,
           CAST(EXTRACT(DOW FROM d) + 1 AS BIGINT)      AS dow_sun1,
           CAST(EXTRACT(WEEK FROM d) AS BIGINT)         AS iso_week,
           d + 30                                       AS plus_30d,
           CAST(d + INTERVAL 2 MONTH AS DATE)           AS plus_2mo,
           last_day(d)                                  AS month_end,
           CAST(date_trunc('quarter', d) AS DATE)       AS q_start,
           CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT) AS days_since
    FROM o ORDER BY o_orderkey
    """,
)
def datetime_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar breadth beyond the reference's F3/F5/F6: extraction,
    day-of-week (aligned: Spark dayofweek is 1=Sunday, DuckDB DOW is
    0=Sunday), ISO week, date arithmetic, calendar-clamped month addition
    (both engines clamp Jan 31 + 1 month to end of Feb), month/quarter
    boundaries, and day differences against a pinned epoch (never
    current_date — nondeterministic across engines, SURVEY §5)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.quarter(d).cast("long").alias("q"),
        F.dayofweek(d).cast("long").alias("dow_sun1"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.date_add(d, 30).alias("plus_30d"),
        F.add_months(d, 2).alias("plus_2mo"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", d).cast("date").alias("q_start"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).cast("long").alias("days_since"),
    ).orderBy("o_orderkey")


@register(
    "order_limit_topn",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def order_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # TakeOrderedAndProject: per-partition top-N then driver merge — no full sort.
    return o.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(10)


@register(
    "set_operations",
    oracle="""
    SELECT 'click_and_view' AS op, COUNT(*) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       INTERSECT
       SELECT user_id FROM events WHERE event_type = 'view')
    UNION ALL
    SELECT 'click_not_purchase' AS op, COUNT(*) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       EXCEPT
       SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'click_or_error' AS op, COUNT(*) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       UNION
       SELECT user_id FROM events WHERE event_type = 'error')
    ORDER BY op
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")

    def ids(et: str) -> DataFrame:
        return e.filter(F.col("event_type") == et).select("user_id")

    def count_as(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(label).alias("op"), "n")

    return (
        count_as(ids("click").intersect(ids("view")), "click_and_view")
        .unionAll(count_as(ids("click").subtract(ids("purchase")), "click_not_purchase"))
        .unionAll(count_as(ids("click").union(ids("error")).distinct(), "click_or_error"))
        .orderBy("op")
    )


@register(
    "distinct_exact",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "grouping_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(c_custkey) AS n_customers
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    joined = r.join(n, n.n_regionkey == r.r_regionkey).join(
        c, c.c_nationkey == n.n_nationkey, "left"
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


# ---------------------------------------------------------------------------
# P12 — uuid generation for log-file names (uuid4, Load-logs/main.py:27),
# made reproducible: content-derived md5 formatted as a UUID.
# ---------------------------------------------------------------------------
@register(
    "uuid_stable",
    oracle="""
    SELECT doc_id,
           substr(md5(source), 1, 8) || '-' || substr(md5(source), 9, 4) || '-' ||
           substr(md5(source), 13, 4) || '-' || substr(md5(source), 17, 4) || '-' ||
           substr(md5(source), 21, 12) AS file_uuid
    FROM documents ORDER BY doc_id
    """,
)
def uuid_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import stable_uuid

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", stable_uuid(F.col("source")).alias("file_uuid")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# TPC-H Q6 shape — the pure scan-filter-aggregate: the query whose plan MUST
# be filter-pushdown + column-pruned scan + single partial/final agg.
# ---------------------------------------------------------------------------
@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 25
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# T3 — tumbling event-time window (the daily GROUP BY dt generalized to
# F.window; batch form of the streaming windowed aggregate). Epoch-aligned
# 6h buckets on both engines.
# ---------------------------------------------------------------------------
@register(
    "tumbling_window_agg",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS win_start,
           event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total
    FROM events
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(_cents()) / 100.0).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
        .orderBy("win_start", "event_type")
    )


@register(
    "sliding_window_agg",
    oracle="""
    WITH shifted AS (
        SELECT make_timestamp((epoch_us(ts) // 10800000000) * 10800000000
                              - s.k * 10800000000) AS win_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) s
    )
    SELECT win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total
    FROM shifted
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (sliding) windows: 6-hour width, 3-hour slide — each
    event lands in exactly width/slide = 2 windows. Spark's window()
    expands rows BEFORE the aggregate (an Expand-like generator), so the
    shuffle carries 2x rows but stays a single partial+final hash
    aggregate — same plan family as tumbling, no self-join. The oracle
    states the expansion directly: each event assigned to its slide-
    aligned window start and the one before it."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(_cents()) / 100.0).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
        .orderBy("win_start", "event_type")
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firstday AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT f.cohort_day,
           CAST(a.day - f.cohort_day AS BIGINT) AS days_since,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM act a JOIN firstday f USING (user_id)
    GROUP BY f.cohort_day, days_since
    ORDER BY f.cohort_day, days_since
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle: users grouped by first-seen day, counted
    on each subsequent active day — the standard product-analytics rollup.
    Two aggregations + one join, all keyed on user_id: the first-seen
    aggregate, the distinct (user, day) activity set, and their join all
    hash-partition on the SAME key, so Catalyst reuses one exchange
    (no re-shuffle between the steps); only the final small
    (cohort, offset) aggregate re-keys."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = e.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "days_since")
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after_click
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click after view -> purchase
    after click) in ONE shuffle of the fact table. The join-chain
    formulation (stage N semi-joined to stage N-1's first-completion
    times) scans events six times through three shuffles; instead, one
    window pass per user computes the running first-view time and the
    running first-qualifying-click time, a purchase qualifies when it
    strictly follows the running click min, and the per-user flag
    aggregate reuses the window's hash partitioning (no second
    exchange). Equivalence to the stage-join semantics: a qualifying
    event exists strictly before row R iff the running min at R is
    strictly below R's timestamp — ties are excluded by `>` on both
    formulations. Strictly-ordered sequence semantics preserved: a
    click before the first view never counts."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = F.col("event_type")
    rv = e.withColumn("rv", F.min(F.when(t == "view", F.col("ts"))).over(w))
    rc = rv.withColumn(
        "rc",
        F.min(
            F.when((t == "click") & (F.col("ts") > F.col("rv")), F.col("ts"))
        ).over(w),
    )
    per_user = rc.groupBy("user_id").agg(
        F.max((t == "view").cast("int")).alias("has_view"),
        F.max(
            ((t == "click") & (F.col("ts") > F.col("rv"))).cast("int")
        ).alias("has_click"),
        F.max(
            ((t == "purchase") & (F.col("ts") > F.col("rc"))).cast("int")
        ).alias("has_purchase"),
    )
    return per_user.agg(
        F.sum("has_view").cast("long").alias("n_view"),
        F.sum("has_click").cast("long").alias("n_click_after_view"),
        F.sum("has_purchase").cast("long").alias("n_purchase_after_click"),
    )


@register(
    "skew_salted_join_agg",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT)         AS n_orders,
           ROUND(SUM(o.o_totalprice), 2)    AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators.skew.salted_join): the fact side
    gets a deterministic per-row salt, the dimension replicates once per
    salt, and the join key becomes (key, salt) — spreading a hot key over
    8 shuffle partitions. The oracle is the PLAIN join + aggregate:
    salting must be a pure physical rewrite with zero semantic effect,
    and this entry proves it cross-engine. (AQE's skew split handles most
    cases at runtime; explicit salting is the planner-independent
    fallback for single-key pathologies AQE cannot subdivide, e.g. one
    group inside an aggregation.)"""
    from ..operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, "o_custkey", salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions per user (30-min inactivity): the
# batch form of the streaming session-window operator. lag + conditional
# cumulative sum; one shuffle on user_id shared by both window passes.
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session,
               event_id
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS session_value,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS duration_sec
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min inactivity) — batch twin of the
    streaming session-window operator. Session totals sum exact integer
    CENTS (see ``_cents``): round 2's one red driver row was this
    query's rounded raw double sum flipping a half-cent boundary
    under the driver's partitioning while passing local parity at every
    SF — the signature of order-dependent double accumulation."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    sessions = e.select("user_id", "ts", "value", "event_id").withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents()) / 100.0).alias("session_value"),
            ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / F.lit(1_000_000))
            .cast("long")
            .alias("duration_sec"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot — the reshape surface: wide daily metrics per event type
# and back to long form. Pivot columns are pinned (deterministic schema).
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_daily_event_values",
    oracle="""
    WITH cents AS (
        SELECT CAST(ts AS DATE) AS dt, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS value_c
        FROM events)
    SELECT dt,
           SUM(CASE WHEN event_type = 'click'    THEN value_c END) / 100.0 AS click,
           SUM(CASE WHEN event_type = 'error'    THEN value_c END) / 100.0 AS error,
           SUM(CASE WHEN event_type = 'purchase' THEN value_c END) / 100.0 AS purchase,
           SUM(CASE WHEN event_type = 'signup'   THEN value_c END) / 100.0 AS signup,
           SUM(CASE WHEN event_type = 'view'     THEN value_c END) / 100.0 AS view
    FROM cents GROUP BY dt ORDER BY dt
    """,
)
def pivot_daily_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn("value_c", _cents())
    out = (
        e.groupBy(F.to_date("ts").alias("dt"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum("value_c") / 100.0)
    )
    return out.orderBy("dt")


@register(
    "unpivot_event_metrics",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS dt,
               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value,
               CAST(COUNT(*) AS DOUBLE) AS n_events
        FROM events GROUP BY dt
    )
    SELECT dt, metric, val FROM (
        SELECT dt, 'total_value' AS metric, total_value AS val FROM daily
        UNION ALL
        SELECT dt, 'n_events' AS metric, n_events AS val FROM daily
    ) ORDER BY dt, metric
    """,
)
def unpivot_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("dt")).agg(
        (F.sum(_cents()) / 100.0).alias("total_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
    )
    return daily.unpivot(
        ["dt"], ["total_value", "n_events"], "metric", "val"
    ).orderBy("dt", "metric")


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
    e = _t(spark, sf_dir, "events")
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
    e = _t(spark, sf_dir, "events")
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
    e = _t(spark, sf_dir, "events")
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
_KMV_K = 64
#: 2^48 — 12 hex nibbles normalize to (0,1) with exact double representation
_KMV_SPACE = float(1 << 48)


def _sql_hex12_to_bigint(col: str) -> str:
    """DuckDB: first 12 hex chars -> BIGINT via alphabet positions (DuckDB
    1.0 has no hex->int cast; strpos arithmetic is portable and exact)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * "
        f"CAST({16 ** (11 - i)} AS BIGINT)"
        for i in range(12)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "approx_distinct_kmv",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hh
        FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
        SELECT event_type, hh,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) AS rn
        FROM h
    ),
    sk AS (
        SELECT event_type, MAX(hh) AS kth, COUNT(*) AS m
        FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
    )
    SELECT event_type,
           ROUND(CASE WHEN m < {_KMV_K} THEN CAST(m AS DOUBLE)
                      ELSE ({_KMV_K} - 1.0)
                           / (CAST({_sql_hex12_to_bigint('kth')} AS DOUBLE)
                              / {_KMV_SPACE!r})
                 END, 2) AS est_users
    FROM sk ORDER BY event_type
    """,
)
def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via a KMV sketch: keep the
    k smallest md5 fingerprints; estimate = (k-1)/u_k where u_k is the k-th
    minimum normalized to (0,1). Deterministic md5 makes this the
    oracle-checkable complement to approx_distinct_users (whose HLL sketch
    is engine-specific, hence rows-only).

    Scale shape: the rank window runs over the per-group DISTINCT
    fingerprint relation (partial aggregation collapses duplicates before
    the shuffle), never over raw events. At truly extreme cardinalities the
    same sketch merges hierarchically (k-min of per-partition k-mins) —
    KMV is a mergeable sketch; this form keeps the oracle expressible.
    """
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    h = (
        e.filter(F.col("user_id").isNotNull())
        .select("event_type", F.md5(F.col("user_id").cast("string")).alias("hh"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("hh")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("hh").alias("kth"), F.count(F.lit(1)).alias("m"))
    )
    kth_val = F.conv(F.substring("kth", 1, 12), 16, 10).cast("bigint")
    est = F.when(F.col("m") < _KMV_K, F.col("m").cast("double")).otherwise(
        F.lit(_KMV_K - 1.0) / (kth_val.cast("double") / F.lit(_KMV_SPACE))
    )
    return sk.select(
        "event_type", F.round(est, 2).alias("est_users")
    ).orderBy("event_type")


@register(
    "bloom_membership_check",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id,
               {{bucket}} AS b,
               u.j,
               (strpos('0123456789abcdef', substr(md5(text), u.j * 4 + 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(text), u.j * 4 + 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(text), u.j * 4 + 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(text), u.j * 4 + 4, 1)) - 1) AS pos
        FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) u
    ),
    bits AS (SELECT DISTINCT pos FROM pos WHERE b >= 15),
    probe AS (SELECT doc_id, pos FROM pos WHERE b < 10)
    SELECT p.doc_id,
           CAST(SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) = 4 AS INT)
             AS maybe_member
    FROM probe p LEFT JOIN bits USING (pos)
    GROUP BY p.doc_id ORDER BY p.doc_id
    """.format(
        bucket="((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096"
        " + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256"
        " + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100"
    ),
)
def bloom_membership_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom-filter membership: the train split's content
    fingerprints are summarized as a DISTINCT set of k=4 hash positions
    in an m=65536-bit space (4 disjoint 16-bit slices of md5(text) — no
    engine-native hash, so the sketch is reproducible anywhere); each
    test-split document is flagged maybe-seen when all 4 of its positions
    are set. No false negatives by construction — every exact cross-split
    duplicate is caught — while the summary is at most m rows regardless
    of corpus size: the 100 TB shape is a BROADCAST of the bit set
    against a map-side probe, the data-level analog of the runtime
    bloom-join pruning pinned in tests/test_scale_plans.py. This is the
    mergeable-sketch completion of the family (KMV above, HLL below)."""
    from ..operators import sketch
    from ..operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    bits = sketch.bloom_build(d.filter(b >= 15), "text")
    return sketch.bloom_probe(d.filter(b < 10), bits, "doc_id", "text").orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching — levenshtein pairs inside blocks: the edit-distance
# complement to the token-level dedup family.
# ---------------------------------------------------------------------------
@register(
    "fuzzy_name_pairs",
    oracle="""
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           levenshtein(a.n_name, b.n_name) AS dist
    FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
    WHERE a.n_name < b.n_name AND levenshtein(a.n_name, b.n_name) <= 6
    ORDER BY name_a, name_b
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("name_a"), F.col("n_regionkey").alias("rk"))
    b = n.select(F.col("n_name").alias("name_b"), F.col("n_regionkey").alias("rk"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "rk")
        .filter((F.col("name_a") < F.col("name_b")) & (dist <= 6))
        .select("name_a", "name_b", dist.alias("dist"))
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# P16 — error-capture projection: malformed records become structured error
# rows instead of failures (try/except -> error log, Load-Data-From-API/
# main.py:177-207). Here: JSON validity routing, the per-row analog.
# ---------------------------------------------------------------------------
@register(
    "error_capture_routing",
    oracle="""
    SELECT CASE WHEN TRY_CAST(payload AS BIGINT) IS NULL THEN 'error' ELSE 'success' END
             AS message_type,
           COUNT(*) AS n,
           CAST(SUM(COALESCE(TRY_CAST(payload AS BIGINT), 0)) AS BIGINT) AS parsed_total
    FROM (SELECT CASE WHEN event_id % 10 = 0 THEN 'corrupt-' || CAST(user_id AS VARCHAR)
                      ELSE CAST(user_id AS VARCHAR) END AS payload
          FROM events)
    GROUP BY message_type ORDER BY message_type
    """,
)
def error_capture_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 10 == 0, F.concat(F.lit("corrupt-"), F.col("user_id").cast("string"))
    ).otherwise(F.col("user_id").cast("string"))
    parsed = payload.try_cast("bigint")
    return (
        e.select(
            F.when(parsed.isNull(), F.lit("error")).otherwise(F.lit("success")).alias(
                "message_type"
            ),
            F.coalesce(parsed, F.lit(0)).alias("parsed"),
        )
        .groupBy("message_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("parsed").alias("parsed_total"),
        )
        .orderBy("message_type")
    )


@register(
    "string_function_breadth",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name)                                   AS up,
           LOWER(p_brand)                                  AS lo,
           CAST(LENGTH(p_name) AS BIGINT)                  AS len,
           SUBSTRING(p_name, 3, 8)                         AS sub,
           REPLACE(p_name, ' ', '_')                       AS repl,
           SPLIT_PART(p_name, ' ', 2)                      AS word2,
           CAST(STRPOS(p_name, 'al') AS BIGINT)            AS pos_al,
           LPAD(p_brand, 12, '*')                          AS padded,
           REVERSE(p_brand)                                AS rev,
           TRANSLATE(p_name, 'aeiou', 'AEIOU')             AS vowels_up,
           REPEAT(p_brand, 2)                              AS twice,
           CAST(LEVENSHTEIN(p_brand, p_type) AS BIGINT)    AS lev,
           CONCAT_WS('|', p_brand, p_type)                 AS joined,
           CASE WHEN p_name LIKE '%al%' THEN 1 ELSE 0 END  AS has_al
    FROM part WHERE p_partkey < 500 ORDER BY p_partkey
    """,
)
def string_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface beyond the reference's F6/P6-P8 (concat, regex
    cleanup, stems): case mapping, substring/replace/split_part, 1-based
    substring search (Spark instr == DuckDB strpos, 0 when absent), padding,
    translate, Levenshtein distance, and separator-joined concat — the
    string toolkit a curation pipeline leans on. Pure codegen projection:
    one scan, filter pushed down, no shuffle."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    name, brand = F.col("p_name"), F.col("p_brand")
    return p.select(
        "p_partkey",
        F.upper(name).alias("up"),
        F.lower(brand).alias("lo"),
        F.length(name).cast("long").alias("len"),
        F.substring(name, 3, 8).alias("sub"),
        F.replace(name, F.lit(" "), F.lit("_")).alias("repl"),
        F.split_part(name, F.lit(" "), F.lit(2)).alias("word2"),
        F.instr(name, "al").cast("long").alias("pos_al"),
        F.lpad(brand, 12, "*").alias("padded"),
        F.reverse(brand).alias("rev"),
        F.translate(name, "aeiou", "AEIOU").alias("vowels_up"),
        F.repeat(brand, 2).alias("twice"),
        F.levenshtein(brand, F.col("p_type")).cast("long").alias("lev"),
        F.concat_ws("|", brand, F.col("p_type")).alias("joined"),
        F.when(name.like("%al%"), F.lit(1)).otherwise(F.lit(0)).alias("has_al"),
    ).orderBy("p_partkey")


@register(
    "array_higher_order_breadth",
    oracle="""
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
               FROM documents WHERE doc_id < 300)
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT)                                   AS n_tokens,
           CAST(LEN(LIST_FILTER(toks, t -> LENGTH(t) > 5)) AS BIGINT)  AS long_tokens,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, t -> LENGTH(t))), 0)
                AS BIGINT)                                             AS total_chars,
           ARRAY_TO_STRING(
               LIST_SLICE(LIST_SORT(LIST_TRANSFORM(toks, t -> LOWER(t))), 1, 5),
               '|')                                                    AS first5_sorted,
           CAST(LIST_CONTAINS(toks, 'the') AS INT)                     AS has_the
    FROM d ORDER BY doc_id
    """,
)
def array_higher_order_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — the lambda surface Catalyst evaluates
    JVM-side with zero Python round-trips: transform / filter / aggregate
    (fold) / array_sort / slice / array_contains over a tokenized document.
    Single-space split agrees byte-for-byte between engines (both keep empty
    strings on runs of spaces). The fold seeds 0L so empty arrays yield 0,
    matching the COALESCE on the DuckDB side."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.length(t) > 5)).cast("long").alias("long_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).alias(
            "total_chars"
        ),
        # array_join (not a raw array column): the driver canonicalizer
        # hashes pandas frames, and array cells are unhashable there — every
        # registered query must emit scalar columns only (pinned by
        # tests/test_registry_contract.py).
        F.array_join(F.slice(F.array_sort(F.transform(toks, F.lower)), 1, 5), "|").alias(
            "first5_sorted"
        ),
        F.array_contains(toks, "the").cast("int").alias("has_the"),
    ).orderBy("doc_id")


@register(
    "regexp_function_breadth",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '[a-z]+a[a-z]*')                       AS first_a,
           CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS BIGINT)
                                                                       AS n_a_words,
           array_to_string(list_slice(regexp_extract_all(text, '[a-z]+a[a-z]*'),
                                      1, 5), '|')                      AS first5_a,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2)                AS second_word,
           regexp_replace(text, 'a[a-z]*', '_', 'g')                   AS masked,
           CAST(regexp_matches(text, '^[a-z ]+$') AS INT)              AS pure_prose
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def regexp_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface beyond the reference's P7/P8 (one
    regexp_replace + one extract): first-match substring, match counting,
    all-matches extraction, group references, global replace, and
    full-match predicates. Patterns are ASCII character classes so Java
    regex (Spark) and RE2 (DuckDB) agree. Pure codegen projection — a
    map-only stage at any scale. Spark's regexp_substr returns NULL on
    no-match where DuckDB's regexp_extract returns '' — coalesced to ''
    to pin the cross-engine contract."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    text = F.col("text")
    pat = "[a-z]+a[a-z]*"
    return d.select(
        "doc_id",
        F.coalesce(F.regexp_substr(text, F.lit(pat)), F.lit("")).alias("first_a"),
        F.regexp_count(text, F.lit(pat)).cast("long").alias("n_a_words"),
        F.array_join(
            F.slice(F.regexp_extract_all(text, F.lit(pat), F.lit(0)), 1, 5), "|"
        ).alias("first5_a"),
        F.regexp_extract(text, "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace(text, "a[a-z]*", "_").alias("masked"),
        text.rlike("^[a-z ]+$").cast("int").alias("pure_prose"),
    ).orderBy("doc_id")


@register(
    "scd2_customer_history",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_acctbal,
               DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM customer
    ),
    upd AS (
        SELECT c_custkey, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal
        FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
    ),
    changed AS (
        SELECT d.c_custkey, d.c_acctbal AS old_bal, d.valid_from,
               u.c_acctbal AS new_bal
        FROM dim d JOIN upd u USING (c_custkey)
        WHERE d.c_acctbal IS DISTINCT FROM u.c_acctbal
    )
    SELECT d.c_custkey, d.c_acctbal, d.valid_from, d.valid_to
    FROM dim d LEFT JOIN changed c USING (c_custkey) WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT c_custkey, old_bal AS c_acctbal, valid_from,
           DATE '2024-06-01' AS valid_to
    FROM changed
    UNION ALL
    SELECT c_custkey, new_bal AS c_acctbal, DATE '2024-06-01' AS valid_from,
           CAST(NULL AS DATE) AS valid_to
    FROM changed
    ORDER BY c_custkey, valid_from
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 (operators.merge.scd2_apply): a
    customer snapshot versioned at 2024-01-01 receives an update feed
    (balances shifted for custkey % 7 == 0, plus NO-OP rows for
    custkey % 11 == 0 proving null-safe change detection skips them);
    changed keys get their open version closed out at the effective date
    and a new open version appended — history preserved, the audited
    form of the reference's delete+insert upsert (S12)."""
    from ..operators.merge import scd2_apply

    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal"))
        .unionByName(
            c.filter((F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0))
            .select("c_custkey", "c_acctbal")
        )
    )
    out = scd2_apply(dim, updates, "c_custkey", ["c_acctbal"], "2024-06-01")
    return out.orderBy("c_custkey", "valid_from")


@register(
    "json_function_breadth",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_val,
           CAST(json_extract_string(props, '$.missing') IS NOT NULL AS INT)
                                                              AS has_missing,
           to_json(struct_pack(event_id := event_id,
                               et := event_type,
                               k2 := CAST(json_extract_string(props, '$.k')
                                          AS BIGINT) * 2))    AS j
    FROM events
    WHERE event_id < 2000 AND json_extract_string(props, '$.k') IS NOT NULL
    ORDER BY event_id
    """,
)
def json_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface (the reference's P11 JSON ser/de,
    widened): path extraction with casts, missing-path predicates, and
    struct -> JSON re-serialization. get_json_object prunes to the single
    path JVM-side; to_json emits compact key-ordered output that matches
    DuckDB's struct_pack serialization byte-for-byte for int/string
    fields. Rows where the path is absent are filtered on both sides
    (Spark's to_json drops null fields where DuckDB serializes them)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.filter(k.isNotNull())
        .select(
            "event_id",
            k.alias("k_val"),
            F.get_json_object("props", "$.missing")
            .isNotNull()
            .cast("int")
            .alias("has_missing"),
            F.to_json(
                F.struct(
                    F.col("event_id"),
                    F.col("event_type").alias("et"),
                    (k * 2).alias("k2"),
                )
            ).alias("j"),
        )
        .orderBy("event_id")
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
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
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
    li = spread_small(_t(spark, sf_dir, "lineitem"), "l_orderkey")
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


@register(
    "grouping_sets_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total,
           CAST(GROUPING(o_orderstatus) AS BIGINT)   AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
    """,
)
def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not expressible as one ROLLUP/CUBE: the
    (o_orderpriority) set skips the hierarchy) via the DataFrame
    groupingSets API, with GROUPING() flags distinguishing real NULLs from
    subtotal rows. Spark expands the sets with a single Expand node feeding
    one hash aggregate — one shuffle regardless of how many sets."""
    o = _t(spark, sf_dir, "orders")
    st, pr = F.col("o_orderstatus"), F.col("o_orderpriority")
    return (
        o.groupingSets([[st, pr], [pr], []], st, pr)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.grouping(st).cast("long").alias("g_status"),
            F.grouping(pr).cast("long").alias("g_prio"),
        )
        .orderBy("g_status", "g_prio", "o_orderstatus", "o_orderpriority")
    )


@register(
    "bitwise_function_breadth",
    oracle="""
    SELECT event_type,
           CAST(bit_and(user_id & 255) AS BIGINT) AS band_all,
           CAST(bit_or(user_id & 255) AS BIGINT)  AS bor_all,
           CAST(bit_xor(user_id & 255) AS BIGINT) AS bxor_all,
           CAST(SUM(bit_count(event_id)) AS BIGINT) AS total_bits,
           CAST(SUM(((event_id << 3) | (user_id & 7)) % 100000) AS BIGINT)
               AS shifted_mix,
           CAST(SUM((event_id >> 2) % 1000) AS BIGINT) AS rshift_mod,
           CAST(SUM(xor(event_id, user_id) % 1000) AS BIGINT) AS xor_mod
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def bitwise_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family cross-pinned: &, |, ^, shifts, bit_count
    scalars plus the bit_and/bit_or/bit_xor aggregates — the primitives
    bitmap-index and feature-flag workloads lean on. All integer-exact, so
    the oracle match is bitwise regardless of aggregation order; one hash
    aggregate, map-side partials absorb the scan."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and(F.expr("user_id & 255")).alias("band_all"),
            F.bit_or(F.expr("user_id & 255")).alias("bor_all"),
            F.bit_xor(F.expr("user_id & 255")).alias("bxor_all"),
            F.sum(F.expr("bit_count(event_id)")).cast("long").alias("total_bits"),
            F.sum(F.expr("(shiftleft(event_id, 3) | (user_id & 7)) % 100000"))
            .cast("long")
            .alias("shifted_mix"),
            F.sum(F.expr("shiftright(event_id, 2) % 1000"))
            .cast("long")
            .alias("rshift_mod"),
            F.sum(F.expr("(event_id ^ user_id) % 1000")).cast("long").alias("xor_mod"),
        )
        .orderBy("event_type")
    )


@register(
    "conditional_null_breadth",
    oracle="""
    SELECT event_type,
           CAST(COUNT(NULLIF(user_id % 10, 0)) AS BIGINT) AS n_nonzero_mod,
           CAST(SUM(ifnull(NULLIF(user_id % 10, 0), -1)) AS BIGINT) AS ifnull_sum,
           CAST(SUM(CASE WHEN NULLIF(user_id % 3, 0) IS NOT NULL
                         THEN 10 ELSE 1 END) AS BIGINT) AS nvl2_sum,
           CAST(SUM(greatest(user_id % 7, user_id % 5, 3)) AS BIGINT) AS greatest_sum,
           CAST(SUM(least(user_id % 7, user_id % 5)) AS BIGINT) AS least_sum,
           CAST(SUM(coalesce(NULLIF(user_id % 4, 0), NULLIF(user_id % 2, 0), 99))
                AS BIGINT) AS coalesce_sum,
           SUM(CAST(ROUND(value / NULLIF(user_id % 4, 0) * 1000000, 0) AS BIGINT))
               / 1000000.0 AS safe_div_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def conditional_null_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling / conditional family cross-pinned: NULLIF, IFNULL,
    NVL2 (CASE-expanded in the oracle — DuckDB has no nvl2), COALESCE
    chains, GREATEST/LEAST (both engines skip NULL operands), COUNT's
    null-skipping, and NULL-safe division via NULLIF denominators (the
    portable try_divide). Integer paths are exact; the one float sum
    quantizes each quotient to integer micro-units before summing so the
    aggregate is order-free (see ``_cents``)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.expr("nullif(user_id % 10, 0)")).alias("n_nonzero_mod"),
            F.sum(F.expr("ifnull(nullif(user_id % 10, 0), -1)"))
            .cast("long")
            .alias("ifnull_sum"),
            F.sum(F.expr("nvl2(nullif(user_id % 3, 0), 10, 1)"))
            .cast("long")
            .alias("nvl2_sum"),
            F.sum(F.expr("greatest(user_id % 7, user_id % 5, 3)"))
            .cast("long")
            .alias("greatest_sum"),
            F.sum(F.expr("least(user_id % 7, user_id % 5)"))
            .cast("long")
            .alias("least_sum"),
            F.sum(F.expr("coalesce(nullif(user_id % 4, 0), nullif(user_id % 2, 0), 99)"))
            .cast("long")
            .alias("coalesce_sum"),
            (
                F.sum(
                    F.round(
                        F.expr("value / nullif(user_id % 4, 0)") * 1000000, 0
                    ).cast("long")
                )
                / 1000000.0
            ).alias("safe_div_sum"),
        )
        .orderBy("event_type")
    )


def _sql_hex4_expr(md5_arg: str) -> str:
    """First 16 bits of md5(md5_arg) as an integer (DuckDB; mirrors
    F.conv(substring(md5(..),1,4),16,10))."""
    d = f"md5({md5_arg})"
    return (
        f"((strpos('0123456789abcdef', substring({d}, 1, 1)) - 1) * 4096"
        f" + (strpos('0123456789abcdef', substring({d}, 2, 1)) - 1) * 256"
        f" + (strpos('0123456789abcdef', substring({d}, 3, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substring({d}, 4, 1)) - 1))"
    )


@register(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH seeds AS (SELECT unnest(generate_series(0, 3)) AS s),
    sb AS (
        SELECT user_id, s,
               {_sql_hex4_expr("CAST(s AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")} % 256
                   AS bucket
        FROM events CROSS JOIN seeds WHERE user_id IS NOT NULL),
    cells AS (SELECT s, bucket, COUNT(*) AS c FROM sb GROUP BY s, bucket),
    probes AS (SELECT DISTINCT user_id, s, bucket FROM sb),
    est AS (SELECT user_id, MIN(c) AS est_count
            FROM probes JOIN cells USING (s, bucket) GROUP BY user_id),
    truth AS (SELECT user_id, COUNT(*) AS true_count
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
    SELECT e.user_id,
           CAST(e.est_count AS BIGINT) AS est_count,
           CAST(t.true_count AS BIGINT) AS true_count,
           CAST(e.est_count - t.true_count AS BIGINT) AS overcount
    FROM est e JOIN truth t ON e.user_id = t.user_id
    ORDER BY est_count DESC, e.user_id LIMIT 50
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketch.countmin_*): d=4
    md5-seeded hash rows x w=256 buckets summarize per-user event counts in
    at most 1024 cells — bounded, BROADCASTABLE, and mergeable (cells add),
    the canonical streaming frequency sketch. Estimates are min-over-rows
    upper bounds (never under), checked here against true counts with the
    overcount surfaced. Deterministic md5 hashing makes the sketch
    oracle-exact cross-engine, completing the sketch family: Bloom
    (membership), KMV (distinct), HLL (distinct, engine-native), CMS
    (frequency)."""
    from ..operators import sketch

    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cells = sketch.countmin_build(e, "user_id")
    probes = e.select("user_id").distinct()
    est = sketch.countmin_estimate(cells, probes, "user_id")
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    return (
        est.join(truth, "user_id")
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
           CAST(bit_xor({_sql_hex4_expr(
               "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
               " || '|' || CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)"
           )} * 65536 + {_sql_hex4_expr(
               "'x|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
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
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber"
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
        F.conv(F.substring(F.md5(key1), 1, 4), 16, 10).cast("long") * 65536
        + F.conv(F.substring(F.md5(key2), 1, 4), 16, 10).cast("long")
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
    "ordered_listagg_by_type",
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id
                FROM events WHERE user_id IS NOT NULL),
    t AS (SELECT event_type, user_id,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY user_id) AS rn
          FROM du)
    SELECT event_type,
           string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS users_csv,
           CAST(COUNT(*) AS BIGINT) AS n_listed
    FROM t WHERE rn <= 10
    GROUP BY event_type ORDER BY event_type
    """,
)
def ordered_listagg_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg semantics): the
    10 smallest distinct user ids per event type, joined into one ordered
    CSV cell. Composed as array_join(array_sort(collect_list(...))) — the
    deterministic form of Spark's listagg — with a WindowGroupLimit
    capping each group BEFORE any list is built: list aggregates are only
    scale-safe when a rank/limit bounds the group first, which is the
    pattern pinned here."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    du = e.select("event_type", "user_id").distinct()
    w = Window.partitionBy("event_type").orderBy("user_id")
    return (
        du.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("event_type")
        .agg(
            F.array_join(
                # sort NUMERICALLY first, cast after — lexicographic string
                # sort would reorder multi-digit ids vs the oracle's
                # ORDER BY user_id
                F.transform(
                    F.array_sort(F.collect_list("user_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("users_csv"),
            F.count(F.lit(1)).cast("long").alias("n_listed"),
        )
        .orderBy("event_type")
    )


@register(
    "gapfill_daily_interpolation",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, AVG(value) AS v
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
    obs AS (SELECT * FROM daily WHERE day(d) % 3 <> 0),
    span AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily
             GROUP BY event_type),
    spine AS (
        SELECT event_type,
               CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        FROM span),
    s AS (SELECT sp.event_type, sp.d, o.v
          FROM spine sp LEFT JOIN obs o
          ON sp.event_type = o.event_type AND sp.d = o.d),
    f AS (SELECT event_type, d, v,
            last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
          FROM s)
    SELECT event_type, d, (v IS NOT NULL) AS observed,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + ((nv - pv) * date_diff('day', pd, d))
                               / date_diff('day', pd, nd)
                      ELSE COALESCE(pv, nv) END, 4) AS filled
    FROM f ORDER BY event_type, d
    """,
)
def gapfill_daily_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill with linear interpolation — the hypertable
    resampling primitive (and the natural extension of the reference's
    daily weather rollup to missing days): build the full date spine per
    series, LOCF/NOCB at the edges, linearly interpolate interior gaps
    (here: every 3rd calendar day withheld to create deterministic gaps).
    Two windows per series (forward last-non-null, backward
    first-non-null) — one partition pass each, no self-join; the spine is
    sequence+explode, never a driver loop. At scale each series fills
    independently (partitionBy event_type)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.avg("value").alias("v"))
    obs = daily.filter(F.dayofmonth("d") % 3 != 0)
    span = daily.groupBy("event_type").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    s = spine.join(obs, ["event_type", "d"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v, d = F.col("v"), F.col("d")
    f = s.select(
        "event_type",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(F.when(v.isNotNull(), d), ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(F.when(v.isNotNull(), d), ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.col("pv") + (
        (F.col("nv") - F.col("pv")) * F.datediff(d, F.col("pd"))
    ) / F.datediff(F.col("nd"), F.col("pd"))
    filled = (
        F.when(v.isNotNull(), v)
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .otherwise(F.coalesce("pv", "nv"))
    )
    return f.select(
        "event_type",
        "d",
        v.isNotNull().alias("observed"),
        F.round(filled, 4).alias("filled"),
    ).orderBy("event_type", "d")


@register(
    "dau_wau_engagement",
    oracle="""
    WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                    FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT d, COUNT(*) AS dau FROM active GROUP BY d),
    contrib AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                    CAST(d + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        FROM active),
    wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY d)
    SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
           ROUND(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY dau.d
    """,
)
def dau_wau_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU (stickiness): sliding-window COUNT
    DISTINCT, which no window frame computes directly.

    Round-9 redesign (the r7 sf100 probe measured the explode-x7 +
    per-day COUNT DISTINCT form at exponent 1.24 — the per-day distinct
    hash state is 7x the activity relation): the sliding distinct is
    computed as INTERVAL STABBING instead. Per user, consecutive
    presence days gap <= 6 apart merge into coverage intervals
    [first, last+6] (one lag + one running-sum window over the
    day-deduped activity relation — linear, user-partitioned, the
    sessionize shuffle class); each interval emits (+1 at start, -1
    after end) deltas, and WAU(d) is the running sum of per-day deltas.
    Distinctness is structural (a user's merged intervals are disjoint,
    so each contributes at most 1 per day) — NO distinct aggregate
    state anywhere; post-aggregation state is O(distinct days),
    calendar-bounded, so the final running-sum window over days is a
    bounded single-partition pass by construction. The computation
    lives in operators/temporal.py daily_engagement — shared verbatim
    with the streaming profile sink (streaming/engagement.py), so the
    two grains cannot drift."""
    from ..operators.temporal import daily_engagement

    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    active = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return daily_engagement(active).orderBy("d")


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
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
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
    "map_function_breadth",
    oracle="""
    WITH m AS (
        SELECT event_type,
               user_id % 10 AS va, user_id % 7 AS vb, user_id % 5 AS vc
        FROM events WHERE user_id IS NOT NULL)
    SELECT event_type,
           CAST(SUM(vb) AS BIGINT) AS sum_elem_b,
           CAST(SUM(CASE WHEN va >= 3 THEN 1 ELSE 0 END
                  + CASE WHEN vb >= 3 THEN 1 ELSE 0 END
                  + CASE WHEN vc >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(SUM(2 * (va + vb + vc)) AS BIGINT) AS sum_doubled,
           CAST(SUM(4) AS BIGINT) AS total_concat_size
    FROM m GROUP BY event_type ORDER BY event_type
    """,
)
def map_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function family: map_from_arrays construction, element_at
    lookup, map_filter, transform_values, map_values, map_concat — the
    per-row key/value surface (feature bags, tag sets). The oracle states
    the same semantics in plain arithmetic over the construction inputs:
    map CELLS are never compared cross-engine (map serialization orders
    differ by engine); every map is reduced to scalars/sorted arrays
    before leaving the query. All JVM-side; one hash aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    m = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b"), F.lit("c")),
        F.array(
            F.col("user_id") % 10, F.col("user_id") % 7, F.col("user_id") % 5
        ),
    )
    row = e.select(
        "event_type",
        F.element_at(m, F.lit("b")).alias("elem_b"),
        F.size(F.map_filter(m, lambda k, v: v >= 3)).alias("n_big"),
        F.aggregate(
            F.map_values(F.transform_values(m, lambda k, v: v * 2)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("doubled_sum"),
        F.size(F.map_concat(m, F.create_map(F.lit("d"), F.lit(1)))).alias("concat_sz"),
    )
    return (
        row.groupBy("event_type")
        .agg(
            F.sum("elem_b").cast("long").alias("sum_elem_b"),
            F.sum("n_big").cast("long").alias("n_big"),
            F.sum("doubled_sum").cast("long").alias("sum_doubled"),
            F.sum("concat_sz").cast("long").alias("total_concat_size"),
        )
        .orderBy("event_type")
    )


@register(
    "try_cast_breadth",
    oracle="""
    WITH t AS (
        SELECT event_type, user_id, value,
               CASE WHEN user_id % 3 = 0 THEN 'oops'
                    ELSE CAST(user_id AS VARCHAR) END AS maybe_num,
               CASE WHEN user_id % 4 = 0 THEN '2024-13-99 00:00:00'
                    ELSE '2024-01-05 10:00:0' || CAST(user_id % 10 AS VARCHAR)
               END AS maybe_ts
        FROM events WHERE user_id IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(TRY_CAST(maybe_num AS BIGINT)) AS BIGINT) AS n_num_ok,
           CAST(SUM(COALESCE(TRY_CAST(maybe_num AS BIGINT), -1)) AS BIGINT)
               AS num_sum,
           CAST(COUNT(TRY_CAST(maybe_ts AS TIMESTAMP)) AS BIGINT) AS n_ts_ok,
           SUM(CAST(ROUND(value / NULLIF(user_id % 5, 0) * 1000000, 0) AS BIGINT))
               / 1000000.0 AS div_sum
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def try_cast_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant cast/arithmetic family (the ANSI-mode escape
    hatches): try_cast on corrupt numerics and calendar-invalid
    timestamps, try_divide's null-on-zero (oracled as NULLIF division) —
    the ingestion-time hardening a permissive loader needs under Spark
    4's ANSI default, where a single bad cell would otherwise fail the
    job. Null-skipping COUNT pins how many survived."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    t = e.select(
        "event_type",
        "user_id",
        "value",
        F.when(F.col("user_id") % 3 == 0, F.lit("oops"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("maybe_num"),
        F.when(F.col("user_id") % 4 == 0, F.lit("2024-13-99 00:00:00"))
        .otherwise(
            F.concat(F.lit("2024-01-05 10:00:0"), (F.col("user_id") % 10).cast("string"))
        )
        .alias("maybe_ts"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count(F.expr("try_cast(maybe_num AS BIGINT)")).alias("n_num_ok"),
            F.sum(F.coalesce(F.expr("try_cast(maybe_num AS BIGINT)"), F.lit(-1)))
            .cast("long")
            .alias("num_sum"),
            F.count(F.expr("try_cast(maybe_ts AS TIMESTAMP)")).alias("n_ts_ok"),
            (
                F.sum(
                    F.round(
                        F.try_divide(F.col("value"), F.col("user_id") % 5) * 1000000,
                        0,
                    ).cast("long")
                )
                / 1000000.0
            ).alias("div_sum"),
        )
        .orderBy("event_type")
    )
