"""Reference warehouse surface: the reference's operator families (SURVEY.md
§2) re-expressed over the driver's tables, each with a DuckDB oracle —
cleaning and rollups, filters and routing, joins (inner/outer/semi/anti,
null-safe, range, salted and skew-adaptive), window and grouping-set
shapes, SQL passthrough, scalar/array/map/JSON function breadth, layout
buckets and slowly-changing dimensions.

Every query here is pure DataFrame API compiled by Catalyst: filters and
projections push into the parquet scan, small dimensions broadcast, and
aggregations run partial+final with a single shuffle. Literals replace
``current_date()`` (nondeterministic across engines — SURVEY.md §5).

Reference citations are given per query (file:line in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import (
    decode_pubsub_payload,
    filename_cleanup,
    path_stem,
    runtime_stamp,
)
from .. import store
from ..operators import text
from .registry import _cents, load_table, register


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
    e = load_table(spark, sf_dir, "events")
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
    e = load_table(spark, sf_dir, "events")
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
    e = load_table(spark, sf_dir, "events")
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
    li = load_table(spark, sf_dir, "lineitem")
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
    e = load_table(spark, sf_dir, "events")
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
    e = load_table(spark, sf_dir, "events")
    fn = F.concat(
        F.lit("hourly-weather-data-json-"),
        runtime_stamp(F.col("ts")),
        F.lit(".json"),
    )
    return (
        e.select(filename_cleanup(fn).alias("cleaned"))
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
    d = load_table(spark, sf_dir, "documents")
    path = F.concat(F.col("source"), F.lit("/doc-"), F.col("doc_id").cast("string"), F.lit(".json"))
    return d.select("doc_id", path_stem(path).alias("stem")).orderBy("doc_id")


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
    e = load_table(spark, sf_dir, "events")
    routes = store.rows(spark, _ROUTES, "event_type string, target string")
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
    d = load_table(spark, sf_dir, "documents")
    b64 = F.base64(F.col("source").cast("binary"))
    return d.select(
        "doc_id",
        b64.alias("b64"),
        decode_pubsub_payload(b64).alias("decoded"),
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
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.concat_ws("/", F.col("event_type"), (F.col("user_id") % 10).cast("string")).alias(
                "log_path"
            ),
            runtime_stamp(F.col("ts")).alias("rt"),
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
    o = load_table(spark, sf_dir, "orders")
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
    e = load_table(spark, sf_dir, "events")
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
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
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
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
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
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    c = load_table(spark, sf_dir, "customer")
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
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
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
    e = load_table(spark, sf_dir, "events")
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
    e = load_table(spark, sf_dir, "events")
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
    c = load_table(spark, sf_dir, "customer")
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
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
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
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
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
    o = load_table(spark, sf_dir, "orders")
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
    e = load_table(spark, sf_dir, "events")

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
    e = load_table(spark, sf_dir, "events")
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
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
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

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", stable_uuid(F.col("source")).alias("file_uuid")).orderBy("doc_id")


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

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
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
    e = load_table(spark, sf_dir, "events").withColumn("value_c", _cents())
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
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("dt")).agg(
        (F.sum(_cents()) / 100.0).alias("total_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
    )
    return daily.unpivot(
        ["dt"], ["total_value", "n_events"], "metric", "val"
    ).orderBy("dt", "metric")


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
    n = load_table(spark, sf_dir, "nation")
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
    e = load_table(spark, sf_dir, "events")
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
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
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
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
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
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
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

    c = load_table(spark, sf_dir, "customer")
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
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
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
    o = load_table(spark, sf_dir, "orders")
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
    ev = load_table(spark, sf_dir, "events")
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
    ev = load_table(spark, sf_dir, "events")
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
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
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
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
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
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
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


@register(
    "range_join_price_bands",
    oracle="""
    SELECT p.p_partkey, c.c_custkey, p.p_retailprice, c.c_acctbal
    FROM part p JOIN customer c
      ON c.c_acctbal BETWEEN p.p_retailprice - 5 AND p.p_retailprice + 5
    ORDER BY p_partkey, c_custkey
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-point range join via bucket equi-join + refine (the naive
    inequality join plans a nested-loop product; the oracle side uses
    DuckDB's IEJoin, ours never materializes the cross space)."""
    from ..operators.temporal import bucketed_range_join

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        (F.col("p_retailprice") - 5).alias("lo"),
        (F.col("p_retailprice") + 5).alias("hi"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = bucketed_range_join(p, c, lo="lo", hi="hi", x="c_acctbal", bucket_width=10.0)
    return out.select("p_partkey", "c_custkey", "p_retailprice", "c_acctbal").orderBy(
        "p_partkey", "c_custkey"
    )


# ---------------------------------------------------------------------------
# Window value-function breadth: FIRST_VALUE / LAST_VALUE (with and
# without IGNORE NULLS), NTH_VALUE, LEAD/LAG with defaults — the family's
# remaining members beyond the rank functions already pinned. One window
# spec -> one sort; the synthetic NULL injection (every 3rd value) makes
# the ignore-nulls semantics observable in the hash.
# ---------------------------------------------------------------------------
@register(
    "window_value_functions_breadth",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 3 = 0 THEN NULL
                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS c
        FROM events WHERE event_type = 'click' AND user_id < 40
    )
    SELECT user_id, event_id, c,
           FIRST_VALUE(c) OVER w AS first_raw,
           FIRST_VALUE(c IGNORE NULLS) OVER w AS first_nn,
           LAST_VALUE(c) OVER w AS last_raw,
           LAST_VALUE(c IGNORE NULLS) OVER w AS last_nn,
           NTH_VALUE(c, 2) OVER w AS second_val,
           LEAD(c, 1, -1) OVER (PARTITION BY user_id ORDER BY event_id)
             AS next_or_neg1,
           LAG(c, 2, -2) OVER (PARTITION BY user_id ORDER BY event_id)
             AS prev2_or_neg2
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY user_id, event_id
    """,
)
def window_value_functions_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter((F.col("event_type") == "click") & (F.col("user_id") < 40)).select(
        "user_id",
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.lit(None).cast("long")
        ).otherwise(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wseq = Window.partitionBy("user_id").orderBy("event_id")
    return v.select(
        "user_id",
        "event_id",
        "c",
        F.first("c").over(w).alias("first_raw"),
        F.first("c", ignorenulls=True).over(w).alias("first_nn"),
        F.last("c").over(w).alias("last_raw"),
        F.last("c", ignorenulls=True).over(w).alias("last_nn"),
        F.nth_value("c", 2).over(w).alias("second_val"),
        F.lead("c", 1, -1).over(wseq).alias("next_or_neg1"),
        F.lag("c", 2, -2).over(wseq).alias("prev2_or_neg2"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Z-order clustering keys (the OPTIMIZE ZORDER primitive): interleave the
# bits of (user_id, day) so rows near each other in EITHER dimension land
# in the same file bucket — the write-layout op that lets zonemap
# data-skipping prune on BOTH columns instead of one. The query computes
# the 8+8-bit interleave in pure integer arithmetic (identical on both
# engines), buckets rows by the top byte of the z-key (≈ a target file),
# and reports each bucket's (user, day) bounding box — the zonemap a
# scan would skip on. Narrow per-bucket spans on both dimensions ARE the
# proof the layout works; a single-column sort gives narrow spans on one
# dimension only.
# ---------------------------------------------------------------------------
def _sql_interleave8(a: str, b: str) -> str:
    """Interleave the low 8 bits of a (even positions) and b (odd)."""
    terms = []
    for i in range(8):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "zorder_layout_buckets",
    oracle=f"""
    WITH t AS (
        SELECT user_id % 256 AS u,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) % 256 AS d
        FROM events
    ),
    z AS (
        SELECT u, d, {_sql_interleave8('u', 'd')} AS zkey FROM t
    )
    SELECT zkey // 256 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(u) AS BIGINT) AS u_min, CAST(MAX(u) AS BIGINT) AS u_max,
           CAST(MIN(d) AS BIGINT) AS d_min, CAST(MAX(d) AS BIGINT) AS d_max,
           CAST(MAX(u) - MIN(u) AS BIGINT) AS u_span,
           CAST(MAX(d) - MIN(d) AS BIGINT) AS d_span
    FROM z GROUP BY bucket ORDER BY bucket
    """,
)
def zorder_layout_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        (F.col("user_id") % 256).alias("u"),
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) % 256"
        ).alias("d"),
    )
    z = t.withColumn("zkey", F.expr(_sql_interleave8("u", "d")))
    return (
        z.groupBy(F.expr("zkey div 256").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
            (F.max("u") - F.min("u")).alias("u_span"),
            (F.max("d") - F.min("d")).alias("d_span"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Multiset set operations: INTERSECT ALL / EXCEPT ALL keep per-row
# multiplicity (min / truncated difference of duplicate counts) — the
# bag semantics reconciliation jobs need (e.g. "how many event rows per
# user survive in both snapshots"), distinct from the set-semantics entry
# (`set_operations`). Count-only output keeps the compare stable.
# ---------------------------------------------------------------------------
@register(
    "set_operations_all",
    oracle="""
    SELECT 'clicks_intersect_all_views' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       INTERSECT ALL
       SELECT user_id FROM events WHERE event_type = 'view')
    UNION ALL
    SELECT 'clicks_except_all_purchases' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM
      (SELECT user_id FROM events WHERE event_type = 'click'
       EXCEPT ALL
       SELECT user_id FROM events WHERE event_type = 'purchase')
    ORDER BY op
    """,
)
def set_operations_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    views = e.filter(F.col("event_type") == "view").select("user_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id")
    ia = clicks.intersectAll(views).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("clicks_intersect_all_views").alias("op"), F.col("n").cast("long")
    )
    ea = clicks.exceptAll(purchases).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("clicks_except_all_purchases").alias("op"), F.col("n").cast("long")
    )
    return ia.unionAll(ea).orderBy("op")


# ---------------------------------------------------------------------------
# Higher-order-function breadth, part 2: EXISTS / FORALL predicates and
# ZIP_WITH over the embedding arrays — the remaining JVM-side array
# lambdas beyond transform/filter/aggregate (array_higher_order_breadth).
# All comparisons are against exact float literals, so booleans and the
# integer zip result hash-match.
# ---------------------------------------------------------------------------
@register(
    "array_hof_breadth_2",
    oracle="""
    SELECT vec_id,
           len(embedding) = 64 AS right_dim,
           list_has_any(list_transform(embedding, v -> v > 0.5), [TRUE])
             AS any_gt_half,
           NOT list_has_any(list_transform(embedding, v -> NOT (v > -1.0)), [TRUE])
             AS all_gt_neg1,
           CAST(list_sum(list_transform(
               list_zip(embedding, list_reverse(embedding)),
               p -> CASE WHEN CAST(p[1] AS DOUBLE) > CAST(p[2] AS DOUBLE)
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_fwd_gt_rev
    FROM embeddings ORDER BY vec_id
    """,
)
def array_hof_breadth_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        (F.size(e) == 64).alias("right_dim"),
        F.exists(e, lambda v: v > 0.5).alias("any_gt_half"),
        F.forall(e, lambda v: v > -1.0).alias("all_gt_neg1"),
        F.aggregate(
            F.zip_with(
                e,
                F.reverse(e),
                lambda a, b: F.when(
                    a.cast("double") > b.cast("double"), F.lit(1)
                ).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_fwd_gt_rev"),
    ).orderBy("vec_id")


_SKEW_PROFILE_ORACLE = """
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    top10 AS (
        SELECT CAST(SUM(c) AS BIGINT) AS t
        FROM (SELECT c FROM counts ORDER BY c DESC, user_id LIMIT 10)
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           CAST((MAX(c) * 1000 * COUNT(*)) // SUM(c) AS BIGINT)
             AS skew_factor_milli,
           CAST(((SELECT t FROM top10) * 1000000) // SUM(c) AS BIGINT)
             AS top10_share_ppm
    FROM counts
    """


@register(
    "join_skew_profile",
    oracle=_SKEW_PROFILE_ORACLE,
)
def join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis for the events.user_id join/agg key — the
    profile you run BEFORE choosing between a plain shuffle join, AQE
    skew splitting, and explicit salting: total rows, distinct keys,
    the heaviest key, skew factor (max/mean, milli-units) and the
    top-10 keys' share (ppm). One keys-sized aggregate + a
    TakeOrderedAndProject top-10 — no full sort, all integer-exact. At
    100 TB the counts relation is keys-sized and the profile costs one
    partial-aggregated scan."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    top10 = (
        counts.orderBy(F.col("c").desc(), "user_id")
        .limit(10)
        .agg(F.sum("c").cast("long").alias("t"))
    )
    return (
        counts.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
            F.expr("(max(c) * 1000 * count(*)) div sum(c)")
            .cast("long")
            .alias("skew_factor_milli"),
            F.sum("c").cast("long").alias("_n"),
        )
        .crossJoin(F.broadcast(top10))
        .select(
            "n_rows",
            "n_keys",
            "max_key_rows",
            "skew_factor_milli",
            F.expr("(t * 1000000) div _n").cast("long").alias("top10_share_ppm"),
        )
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
    WITH prof AS ({_SKEW_PROFILE_ORACLE}),
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
