"""TPC-DS query shapes, fourteenth wave: fallback-key joins, HAVING over
window outputs, and interval-to-calendar explosion (reference:
30-performance/TPC-DS Runner/notebooks/create_data_and_queries.scala:96-99).

- q84/q13 → ds_fallback_key_join (entity resolution with a join
            preference: match supplier by same-nation first, fall back
            to same-region — LEFT join on the primary key, a second
            LEFT join for the misses, one coalesce)
- q89     → ds_having_over_window (keep only brands whose max monthly
            revenue share exceeds 2x their min — a HAVING whose operand
            is itself a window result)
- q78/q72 → ds_interval_month_census (each order's open interval
            [orderdate, last shipdate] exploded to month grain — the
            billing/proration time-spread — then the per-month active
            census)

Determinism contract as tpcds_shapes.py/2-13.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_fallback_key_join",
    tags=("tpcds-shape", "join", "fallback"),
    oracle="""
    WITH cust_nation AS (
        SELECT c_custkey, c_nationkey FROM customer
    ), nation_sup AS (
        SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
               CAST(min(s_suppkey) AS BIGINT) AS rep_sup
        FROM supplier GROUP BY s_nationkey
    ), region_sup AS (
        SELECT n.n_regionkey, CAST(count(*) AS BIGINT) AS n_sup,
               CAST(min(s.s_suppkey) AS BIGINT) AS rep_sup
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN ns.s_nationkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS matched_primary,
           CAST(sum(coalesce(ns.rep_sup, rs.rep_sup)) AS BIGINT) AS rep_sup_sum
    FROM cust_nation c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN nation_sup ns ON c.c_nationkey = ns.s_nationkey
    LEFT JOIN region_sup rs ON n.n_regionkey = rs.n_regionkey
    GROUP BY nation
    ORDER BY nation
    """,
)
def ds_fallback_key_join(spark, sf_dir):
    """DS q84/q13 shape: a JOIN PREFERENCE chain — each customer is
    assigned a representative supplier from its own nation when one
    exists, falling back to its region otherwise: LEFT join on the
    primary key, LEFT join on the fallback key, one coalesce picks the
    first hit. The composed-outer-joins-plus-coalesce is how entity
    resolution expresses "best available match" without a UNION of
    disjoint filters (which would scan the probe side twice).

    Scale: both match tables are dim-bounded aggregates (per-nation,
    per-region supplier reps) and broadcast; the probe side is scanned
    once; the census is a |nations|-row aggregate.
    """
    t = load_tables(spark, sf_dir, ["customer", "supplier", "nation"])
    nation_sup = t["supplier"].groupBy("s_nationkey").agg(
        F.min("s_suppkey").cast("bigint").alias("ns_rep")
    )
    region_sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey")
        .agg(F.min("s_suppkey").cast("bigint").alias("rs_rep"))
        .withColumnRenamed("n_regionkey", "rs_regionkey")
    )
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(nation_sup),
            F.col("c_nationkey") == F.col("s_nationkey"),
            "left",
        )
        .join(
            F.broadcast(region_sup),
            F.col("n_regionkey") == F.col("rs_regionkey"),
            "left",
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("s_nationkey").isNotNull().cast("int"))
            .cast("bigint")
            .alias("matched_primary"),
            F.sum(F.coalesce(F.col("ns_rep"), F.col("rs_rep")))
            .cast("bigint")
            .alias("rep_sup_sum"),
        )
        .orderBy("nation")
    )


@register(
    "ds_having_over_window",
    tags=("tpcds-shape", "window", "having"),
    oracle=f"""
    WITH monthly AS (
        SELECT p.p_brand AS brand,
               CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
               sum({CENTS_SQL.format(c='l.l_extendedprice')}) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE year(l.l_shipdate) = 1996
        GROUP BY brand, month
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(max(cents) AS BIGINT) AS peak_cents,
           CAST(min(cents) AS BIGINT) AS trough_cents
    FROM monthly
    GROUP BY brand
    HAVING max(cents) > 2 * min(cents)
    ORDER BY brand
    """,
)
def ds_having_over_window(spark, sf_dir):
    """DS q89 shape: volatility screening — keep only brands whose 1996
    peak month out-revenues their trough month by more than 2× (an
    exact bigint compare, no ratio). The filter's operands are
    aggregates OF an aggregate: fact → (brand, month) → per-brand
    extrema → HAVING.

    Scale: two cascaded shrinking aggregates on one year-pruned fact
    scan with the part dim broadcast; the HAVING is a filter on the
    |brands|-row frame.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    monthly = (
        t["lineitem"]
        .filter(F.year("l_shipdate") == 1996)
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        )
        .agg(F.sum(cents("l_extendedprice")).alias("cents"))
    )
    return (
        monthly.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.max("cents").cast("bigint").alias("peak_cents"),
            F.min("cents").cast("bigint").alias("trough_cents"),
        )
        .filter(F.col("peak_cents") > 2 * F.col("trough_cents"))
        .orderBy("brand")
    )


@register(
    "ds_interval_month_census",
    tags=("tpcds-shape", "explode", "interval"),
    oracle="""
    WITH spans AS (
        SELECT o.o_orderkey,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m_start,
               greatest(CAST(date_trunc('month', o.o_orderdate) AS DATE),
                        CAST(date_trunc('month', max(l.l_shipdate)) AS DATE)) AS m_end
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE year(o.o_orderdate) = 1996
        GROUP BY o.o_orderkey, m_start
    ), exploded AS (
        SELECT o_orderkey,
               CAST(unnest(generate_series(m_start, m_end, INTERVAL 1 MONTH)) AS DATE)
                   AS month
        FROM spans
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS active_orders
    FROM exploded
    GROUP BY month
    ORDER BY month
    """,
)
def ds_interval_month_census(spark, sf_dir):
    """DS q78/q72 shape: each 1996 order's open interval — order month
    through its last ship month — EXPLODED to month grain (`sequence`
    of months per row), then the per-month census of in-flight orders.
    The interval→calendar spread is how billing proration, license
    seats, and backlog reports turn span facts into period facts; the
    battery's other interval entry (join_interval_overlap) joins two
    interval sets, this one rasterizes intervals onto the calendar.

    Scale: the span table is one (orderkey)-grain aggregate off the
    single big join; the explode fans out ≤ span-months per order
    (bounded by the business cycle, ~7 months here), and the census is
    map-side combinable on the month key.
    """
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    spans = (
        t["orders"]
        .filter(F.year("o_orderdate") == 1996)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("m_start"),
        )
        .agg(F.date_trunc("month", F.max("l_shipdate")).cast("date").alias("m_end"))
        # the synthetic corpus has ship dates BEFORE the order date;
        # clamp so the span is never reversed (Spark's sequence throws
        # on end < start, DuckDB's generate_series silently drops —
        # different behaviors, so normalize on BOTH sides)
        .withColumn("m_end", F.greatest("m_start", "m_end"))
    )
    return (
        spans.select(
            F.explode(
                F.sequence("m_start", "m_end", F.expr("INTERVAL 1 MONTH"))
            ).alias("month")
        )
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_orders"))
        .orderBy("month")
    )
