"""Headline pipeline queries (TPC-H-shaped, adapted to the testdata schema).

These exercise the scan→filter→join→aggregate→sort spine of the engine:
star-schema joins with broadcast dims, partial aggregation, top-k with
deterministic tie-breaks. Capability parity targets: SURVEY.md §2.3 J1/J7,
§2.4 A2, §2.6 O2 (reference exercises these via e.g.
deltaoptimizer.py:1224-1226, 01.5-Delta-pipeline-spark-churn.py:248-261).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import disc_price, dmoney, drate, dsum_dbl
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "q1_pricing_summary",
    bench=True,
    tags=("agg", "scan"),
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE)      AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                          * CAST(1 - l_discount AS DECIMAL(7,4))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                          * CAST(1 - l_discount AS DECIMAL(7,4))
                          * CAST(1 + l_tax AS DECIMAL(7,4))), 2) AS DOUBLE)      AS sum_charge,
           round(avg(l_quantity), 4)                                            AS avg_qty,
           round(avg(l_extendedprice), 4)                                       AS avg_price,
           round(avg(l_discount), 4)                                            AS avg_disc,
           count(*)                                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """Pricing summary report: single-pass scan + hash aggregate.

    Scale: map-side partial aggregation into 6 groups — no skew concern;
    the filter pushes to the parquet scan.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    disc = disc_price()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_dbl(dmoney("l_quantity")).alias("sum_qty"),
            dsum_dbl(dmoney("l_extendedprice")).alias("sum_base_price"),
            dsum_dbl(disc).alias("sum_disc_price"),
            dsum_dbl(disc * drate(F.lit(1) + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    bench=True,
    tags=("join", "agg", "topk"),
    oracle="""
    SELECT o_orderkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(7,4))), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """Top unshipped orders by revenue for one market segment.

    Scale: customer is the small side → broadcast; lineitem↔orders is the
    big join and shuffles on the order key. Top-k is a TakeOrderedAndProject
    (no global sort materialization).
    """
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        t["orders"]
        .filter(F.col("o_orderdate") < cutoff)
        .join(maybe_broadcast(cust, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["lineitem"].filter(F.col("l_shipdate") > cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum_dbl(disc_price()).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    bench=True,
    tags=("join", "agg"),
    oracle="""
    SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(7,4))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """Revenue by nation where customer and supplier share a nation.

    Scale: 6-way star join — region/nation/supplier broadcast (bounded
    dims), the lineitem↔orders shuffle dominates and AQE coalesces the
    post-join partitions.
    """
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"])
    dims = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(t["customer"].select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(dims),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum_dbl(disc_price()).alias("revenue"))
    )


@register(
    "q4_order_priority_count",
    tags=("join", "semi", "agg"),
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_count(spark, sf_dir):
    """Orders per priority having at least one line shipped after order date.

    EXISTS expressed as a left-semi join (SURVEY §2.3 J4) — no row
    duplication, and Spark can use a semi-join physical strategy.
    """
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    return (
        orders.join(
            t["lineitem"].select("l_orderkey", "l_shipdate"),
            (F.col("l_orderkey") == F.col("o_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q10_returned_items",
    bench=True,
    tags=("join", "agg", "topk"),
    oracle="""
    SELECT c_custkey, c_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(7,4))), 2) AS DOUBLE) AS revenue,
           n_name, c_acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """Top customers by revenue lost to returned items."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(t["lineitem"].filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum_dbl(disc_price()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q_top_supplier",
    tags=("join", "agg", "window"),
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(7,4))), 2) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_top_supplier(spark, sf_dir):
    """Supplier(s) with maximum quarterly revenue (TPC-H Q15 shape).

    The scalar-subquery max is expressed as an unpartitioned window max —
    one extra exchange over a 100-row aggregate, cheap at any scale.
    """
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum_dbl(disc_price()).alias("total_revenue"))
    )
    best = revenue.withColumn("max_rev", F.max("total_revenue").over(W.partitionBy())).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    return (
        t["supplier"]
        .join(best, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )
