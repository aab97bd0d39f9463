"""TPC-H-shaped suite — the join/subquery/window patterns the reference's
BigQuery SQL surface implies at scale (SURVEY.md §2.5-§2.6).

The driver's tables omit partsupp and some lineitem columns, so each query
keeps the *plan shape* of its TPC-H namesake (the thing that matters for a
1000-executor cluster) with filters adapted to the available columns:

- q7/q8/q9: multiway fact-dim joins with broadcast dims and a single fact
  shuffle; conditional aggregation for market share.
- q4: EXISTS decorrelated to a left-semi join (no row-at-a-time subquery).
- q13: left OUTER join + two-level aggregation (the count-of-counts shape).
- q15: aggregate-then-self-max — the "view + scalar subquery" pattern as a
  broadcast join against a 1-row max, not a driver collect.
- q2: correlated max-per-group subquery decorrelated to an aggregate join.
- q16: distinct-count with NOT-IN exclusion as a broadcast anti join.
- q22: anti join + scalar-average subquery (broadcast 1-row cross join).
- window_running_analytics: running frames (unbounded-preceding sum, lag
  delta, 7-row moving average) — all single-pass WindowExec after one sort.

All date literals are fixed (current_date() is nondeterministic across
engines — SURVEY.md §5); aggregates are rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load_table, register


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
    li = load_table(spark, sf_dir, "lineitem")
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
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
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
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
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
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
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
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-09-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-10-01").cast("date"))
    )
    p = load_table(spark, sf_dir, "part")
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
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
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
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
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
    li = load_table(spark, sf_dir, "lineitem")
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


def _date(col: str):
    return F.to_date(col)


# ---------------------------------------------------------------------------
# q7: volume shipping between a nation pair. Plan: lineitem shuffles once on
# l_orderkey; supplier/customer/nation broadcast. Reference analog: the
# multiway dim routing of Load-gcs-to-bq/main.py:15-17 at fact scale.
# ---------------------------------------------------------------------------
@register(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS BIGINT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        _date("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year(_date("l_shipdate")).cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# q8: market share of one nation's suppliers — conditional aggregation
# (SUM(CASE)/SUM) over a 5-way join, ASIA customers, ECONOMY parts.
# ---------------------------------------------------------------------------
@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
           ROUND(SUM(CASE WHEN sn.n_name = 'NATION_2'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
    FROM lineitem l
    JOIN part p     ON l.l_partkey  = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
      AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        _date("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year(_date("o_orderdate")).cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# q9: product-type profit by supplier nation and year. partsupp is absent,
# so supply cost is modeled as 10% of p_retailprice per unit — the plan
# (fact scan -> two broadcast dims -> shuffle agg) is the point.
# ---------------------------------------------------------------------------
@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity), 2) AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey  = p.p_partkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(_date("o_orderdate")).cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# q4: order-priority checking. EXISTS decorrelates to a left-semi join —
# never a per-row subquery. (Returned-flag stands in for the commit/receipt
# lateness predicate; those columns are absent from the driver tables.)
# ---------------------------------------------------------------------------
@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (_date("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q12: shipping-mode conditional counts — join + CASE-sum in one pass.
# l_linestatus stands in for the absent l_shipmode.
# ---------------------------------------------------------------------------
@register(
    "tpch_q12_priority_case_sum",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
    GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """,
)
def tpch_q12_priority_case_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# q13: customer order-count distribution — left OUTER join preserving
# order-less customers, then a count-of-counts re-aggregation.
# ---------------------------------------------------------------------------
@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# q15: top supplier by revenue. The scalar-max subquery becomes a broadcast
# join against a 1-row aggregate — no driver-side collect. Revenue is
# rounded to 2dp BEFORE the max comparison so both engines compare the
# same canonical value.
# ---------------------------------------------------------------------------
@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (_date("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx._mx)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q2 (shape): max-per-group correlated subquery, decorrelated to an
# aggregate + equality join back. Raw-column equality (no float sums) is
# exact across engines.
# ---------------------------------------------------------------------------
@register(
    "tpch_q2_max_acctbal_supplier",
    oracle="""
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name AS nation, r.r_name AS region
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE s.s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q2_max_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    mx = s.groupBy(F.col("s_nationkey").alias("mx_key")).agg(
        F.max("s_acctbal").alias("mx_bal")
    )
    return (
        s.join(
            F.broadcast(mx),
            (s.s_nationkey == mx.mx_key) & (s.s_acctbal == mx.mx_bal),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey", "s_name", "s_acctbal",
            F.col("n_name").alias("nation"), F.col("r_name").alias("region"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q16: parts/supplier relationship counts with a NOT-IN exclusion — the
# exclusion is a broadcast ANTI join (negative-acctbal suppliers stand in
# for the complaints predicate); the association comes from lineitem
# (partsupp is absent). COUNT(DISTINCT) runs as a two-phase distinct agg.
# ---------------------------------------------------------------------------
@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q22: customers with above-average balances and no orders — scalar AVG
# subquery broadcast as a 1-row cross join, then a shuffle anti join.
# ---------------------------------------------------------------------------
@register(
    "tpch_q22_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS a FROM customer
        WHERE c_acctbal > 0.00 AND c_nationkey IN (0, 1, 2, 3))
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_nationkey IN (0, 1, 2, 3) AND c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey ORDER BY c.c_nationkey
    """,
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(0, 1, 2, 3))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_a"))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Running-frame window analytics over the daily revenue series: cumulative
# sum (unbounded preceding), day-over-day delta via lag, and a 7-row moving
# average — one sort, one WindowExec, three frames.
# ---------------------------------------------------------------------------
@register(
    "window_running_analytics",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(ROUND(ROUND(SUM(o_totalprice), 2) * 100, 0) AS BIGINT)
                   AS rev_c
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
          AND CAST(o_orderdate AS DATE) <  DATE '1999-04-01'
        GROUP BY d)
    SELECT d,
           rev_c / 100.0 AS rev,
           SUM(rev_c) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
               AS running_rev,
           (rev_c - COALESCE(lag(rev_c) OVER (ORDER BY d), 0)) / 100.0
               AS delta_rev,
           CAST(SUM(rev_c) OVER (ORDER BY d
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / (100.0 * COUNT(*) OVER (ORDER BY d
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS ma7_rev
    FROM daily ORDER BY d
    """,
)
def window_running_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running frames over the daily revenue series. The windowed math
    runs on integer CENTS, not doubles: sliding-frame aggregation
    accumulates in engine-specific order (DuckDB slides by
    subtract/segment-tree, Spark recomputes/accumulates forward), so
    double sums differ in the last ulp and ROUND turns that into visible
    0.01 flips (caught by the sf0.001 parity sweep on ma7). Integer
    window sums are exact and order-free; the single final division is
    identical IEEE arithmetic on both engines — no rounding needed at
    all, which also removes the HALF_UP-vs-banker's tie hazard."""
    o = load_table(spark, sf_dir, "orders").filter(
        (_date("o_orderdate") >= F.lit("1999-01-01").cast("date"))
        & (_date("o_orderdate") < F.lit("1999-04-01").cast("date"))
    )
    daily = o.groupBy(_date("o_orderdate").alias("d")).agg(
        F.round(F.round(F.sum("o_totalprice"), 2) * 100, 0)
        .cast("long")
        .alias("rev_c")
    )
    w = Window.orderBy("d")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ma = w.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "d",
        (F.col("rev_c") / 100.0).alias("rev"),
        (F.sum("rev_c").over(run) / 100.0).alias("running_rev"),
        (
            (F.col("rev_c") - F.coalesce(F.lag("rev_c").over(w), F.lit(0)))
            / 100.0
        ).alias("delta_rev"),
        (
            F.sum("rev_c").over(ma).cast("double")
            / (100.0 * F.count(F.lit(1)).over(ma))
        ).alias("ma7_rev"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# q11 (shape): "important stock" — two-level aggregate with a scalar-average
# threshold. partsupp is absent, so part value comes from lineitem revenue;
# the plan shape is the point: one fact shuffle on l_partkey, the global
# average as a broadcast 1-row join (never a driver collect), threshold
# relative to AVG so it is scale-free across SFs.
# ---------------------------------------------------------------------------
@register(
    "tpch_q11_important_parts",
    oracle="""
    WITH v AS (
        SELECT l_partkey, SUM(l_extendedprice * (1 - l_discount)) AS val
        FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, ROUND(val, 2) AS part_value
    FROM v WHERE val > 1.6 * (SELECT AVG(val) FROM v)
    ORDER BY part_value DESC, l_partkey
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
    )
    avg = vals.agg(F.avg("val").alias("_avg"))
    return (
        vals.join(F.broadcast(avg))
        .filter(F.col("val") > 1.6 * F.col("_avg"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# q20 (shape): "potential part promotion" — HAVING-qualified aggregate
# feeding a left-semi join up to the dimension. partsupp's availqty is
# absent, so the qualifier is shipped quantity per (supplier, part) of
# 'small%' parts in 1996. part filter broadcasts into the fact scan; the
# semi join carries only s_suppkey (bytes-minimal shuffle).
# ---------------------------------------------------------------------------
@register(
    "tpch_q20_potential_promotion",
    oracle="""
    WITH shipped AS (
        SELECT l.l_suppkey, l.l_partkey, SUM(l.l_quantity) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'small%'
          AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l.l_shipdate AS DATE) <  DATE '1997-01-01'
        GROUP BY 1, 2 HAVING SUM(l.l_quantity) > 50)
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped)
    ORDER BY s.s_name
    """,
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# q21 (shape): "suppliers who kept orders waiting" — the classic double
# correlated EXISTS / NOT EXISTS over the fact table, decorrelated to
# per-order window aggregates: a line is late if it shipped >60 days after
# the order date; a late line counts iff its order has another supplier
# (EXISTS) and no OTHER late supplier (NOT EXISTS) — i.e.
# distinct-suppliers > 1 and distinct-late-suppliers == 1, computed as
# collect_set sizes over ONE window partitioned by l_orderkey. The fact
# table shuffles exactly once (the window exchange); a groupBy-based
# decorrelation would re-shuffle the line-grain subtree two more times.
# l_commitdate/l_receiptdate are absent so lateness is shipdate-vs-orderdate.
# ---------------------------------------------------------------------------
@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o   ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey  = l1.l_suppkey
    WHERE CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 100
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    flags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (_date("l_shipdate") > F.date_add(_date("o_orderdate"), 60)).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    qualifying = flags.select(
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    ).filter(F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    s = load_table(spark, sf_dir, "supplier")
    return (
        qualifying.join(F.broadcast(s), qualifying.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
