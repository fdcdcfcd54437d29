"""TPC-DS query shapes, twelfth wave: cohort churn via anti-join,
centered smoothing frames, nested share-of-total, cumulative-distinct
via first-seen reduction, skew classification from central moments, and
distribution entropy (reference: 30-performance/TPC-DS Runner/
notebooks/create_data_and_queries.scala:96-99).

- q1/q30  → ds_churned_revenue_anti (customers active in 1996 with NO
            1997 order — LEFT ANTI between per-customer AGGREGATES, the
            churn/at-risk-revenue census)
- q47     → ds_centered_moving_window (ROWS BETWEEN 3 PRECEDING AND 3
            FOLLOWING — the battery's other frames are all
            preceding-only; centered smoothing is its own frame shape)
- q36     → ds_nested_share_of_total (brand share WITHIN segment and
            segment share of grand total — two window partitionings
            composed in one projection)
- q54     → ds_running_distinct_parts (cumulative DISTINCT parts per
            supplier by month: windows can't COUNT(DISTINCT), so reduce
            to first-seen month per (supplier, part) then cumulate —
            the dedup-then-cumulate idiom)
- q17     → ds_brand_skew_classes (mean vs exact median per brand,
            classified into skew buckets by integer cross-compare)
- q90     → ds_hourly_entropy (Shannon entropy of each event type's
            hour-of-day distribution — activity-diversity screening)

Determinism contract as tpcds_shapes.py/2-11. Entropy is the one shape
whose doubles pass through libm ln(); both engines compute
-Σ (n_h/n)·ln(n_h/n) from identical integers and the ppm floor leaves
~9 orders of magnitude between a last-ulp ln() difference and the
rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, cents, ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_churned_revenue_anti",
    tags=("tpcds-shape", "anti-join", "cohort"),
    oracle=f"""
    WITH y96 AS (
        SELECT o_custkey, sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
    ), y97 AS (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_churned,
           CAST(sum(y96.cents) AS BIGINT) AS churned_cents
    FROM y96
    LEFT JOIN y97 ON y96.o_custkey = y97.o_custkey
    JOIN customer c ON y96.o_custkey = c.c_custkey
    WHERE y97.o_custkey IS NULL
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_churned_revenue_anti(spark, sf_dir):
    """DS q1/q30 shape: the churn census — customers who spent in 1996
    but placed NO 1997 order, found by LEFT ANTI joining the 1996
    per-customer aggregate against the 1997 active set, then summing
    the at-risk revenue per segment.

    Scale: both cohort frames are per-customer aggregates of
    year-pruned scans (map-side combined); the anti-join runs on
    |customers|-sized sets and compiles to a hash anti join (AQE
    broadcasts the key set at gate SF, co-partitions at 100 TB);
    customer dim broadcasts for the census.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    o = t["orders"]
    y96 = (
        o.filter(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    churned = y96.join(y97, "o_custkey", "left_anti")
    return (
        churned.join(
            maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_churned"),
            F.sum("cents").cast("bigint").alias("churned_cents"),
        )
        .orderBy("segment")
    )


@register(
    "ds_centered_moving_window",
    tags=("tpcds-shape", "window", "centered-frame"),
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS day_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) = 1996
        GROUP BY segment, day
    )
    SELECT segment, day,
           CAST(day_cents AS BIGINT) AS day_cents,
           CAST(sum(day_cents) OVER w AS BIGINT) AS smooth_cents,
           CAST(count(*) OVER w AS BIGINT) AS frame_n
    FROM daily
    WINDOW w AS (PARTITION BY segment ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ORDER BY segment, day
    """,
)
def ds_centered_moving_window(spark, sf_dir):
    """DS q47 shape: CENTERED smoothing — each day's ±3-day neighborhood
    sum and frame size (the frame-size column makes edge truncation
    explicit, so the smoothed value is exact, not avg-with-shrinking-
    denominator ambiguity). Every other battery frame ends at CURRENT
    ROW; a FOLLOWING bound exercises the forward-buffering window path.

    Scale: the fact collapses to (segment, day) first; the centered
    window holds at most 7 rows of state per partition position.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    daily = (
        t["orders"]
        .filter(F.year("o_orderdate") == 1996)
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("day_cents"))
    )
    w = W.partitionBy("segment").orderBy("day").rowsBetween(-3, 3)
    return (
        daily.select(
            "segment",
            "day",
            F.col("day_cents").cast("bigint").alias("day_cents"),
            F.sum("day_cents").over(w).cast("bigint").alias("smooth_cents"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("frame_n"),
        )
        .orderBy("segment", "day")
    )


@register(
    "ds_nested_share_of_total",
    tags=("tpcds-shape", "window", "share"),
    bench=True,
    oracle=f"""
    WITH cell AS (
        SELECT c.c_mktsegment AS segment, p.p_brand AS brand,
               sum({CENTS_SQL.format(c='l.l_extendedprice')}) AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY segment, brand
    )
    SELECT segment, brand, CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0
                      / sum(cents) OVER (PARTITION BY segment)) AS BIGINT)
               AS brand_in_segment_ppm,
           CAST(floor(CAST(sum(cents) OVER (PARTITION BY segment) AS DOUBLE)
                      * 1000000.0 / sum(cents) OVER ()) AS BIGINT)
               AS segment_of_total_ppm
    FROM cell
    ORDER BY segment, brand
    """,
)
def ds_nested_share_of_total(spark, sf_dir):
    """DS q36 shape: two-level share-of-parent in one projection — each
    brand's share WITHIN its segment, alongside that segment's share of
    the grand total. Two window partitionings (segment, global) over
    the same aggregated cell frame; the global window is a legitimate
    SinglePartition exchange over |segments|×|brands| rows.

    Scale: one fact scan feeds a (segment, brand) cell aggregate
    (customer/part broadcast, lineitem↔orders the only big shuffle);
    both windows then run over ≤ a few hundred cells.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer", "part"])
    cell = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("p_brand").alias("brand")
        )
        .agg(F.sum(cents("l_extendedprice")).alias("cents"))
    )
    seg_w = W.partitionBy("segment")
    all_w = W.partitionBy()
    return (
        cell.select(
            "segment",
            "brand",
            F.col("cents").cast("bigint").alias("cents"),
            ppm("cents", F.sum("cents").over(seg_w)).alias("brand_in_segment_ppm"),
            ppm(F.sum("cents").over(seg_w), F.sum("cents").over(all_w)).alias("segment_of_total_ppm"),
        )
        .orderBy("segment", "brand")
    )


@register(
    "ds_running_distinct_parts",
    tags=("tpcds-shape", "window", "distinct"),
    oracle="""
    WITH first_seen AS (
        SELECT l_suppkey,
               CAST(date_trunc('month', min(l_shipdate)) AS DATE) AS first_month
        FROM lineitem GROUP BY l_suppkey, l_partkey
    ), monthly_new AS (
        SELECT l_suppkey, first_month, count(*) AS n_new
        FROM first_seen GROUP BY l_suppkey, first_month
    )
    SELECT l_suppkey AS suppkey, first_month AS month,
           CAST(n_new AS BIGINT) AS n_new_parts,
           CAST(sum(n_new) OVER (PARTITION BY l_suppkey ORDER BY first_month
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS distinct_parts_to_date
    FROM monthly_new
    ORDER BY suppkey, month
    """,
)
def ds_running_distinct_parts(spark, sf_dir):
    """DS q54 shape: cumulative DISTINCT parts shipped per supplier by
    month. Windows cannot COUNT(DISTINCT), so the query reduces each
    (supplier, part) to its FIRST shipment month, counts first-arrivals
    per month, and cumulates — the dedup-then-cumulate idiom that turns
    an impossible windowed distinct into two cheap aggregates.

    Scale: the first-seen reduction is a map-side-combinable MIN per
    (supplier, part); everything downstream is |suppliers×parts| then
    |suppliers×months| — both shrinking.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    first_seen = li.groupBy("l_suppkey", "l_partkey").agg(
        F.date_trunc("month", F.min("l_shipdate")).cast("date").alias("first_month")
    )
    monthly_new = first_seen.groupBy("l_suppkey", "first_month").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("first_month")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        monthly_new.select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("first_month").alias("month"),
            F.col("n_new").cast("bigint").alias("n_new_parts"),
            F.sum("n_new").over(w).cast("bigint").alias("distinct_parts_to_date"),
        )
        .orderBy("suppkey", "month")
    )


@register(
    "ds_brand_skew_classes",
    tags=("tpcds-shape", "stats", "percentile"),
    oracle=f"""
    WITH m AS (
        SELECT p.p_brand AS brand,
               count(*) AS n,
               sum({CENTS_SQL.format(c='l.l_extendedprice')}) AS cents,
               CAST(median({CENTS_SQL.format(c='l.l_extendedprice')}) AS DOUBLE)
                   AS median_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand
    )
    SELECT brand, CAST(n AS BIGINT) AS n,
           CAST(cents AS BIGINT) AS cents,
           CAST(floor(median_cents * 100) AS BIGINT) AS median_centicents,
           CASE WHEN CAST(cents AS DOUBLE) * 10 > median_cents * n * 11
                THEN 'right-skewed'
                WHEN CAST(cents AS DOUBLE) * 11 < median_cents * n * 10
                THEN 'left-skewed'
                ELSE 'balanced' END AS skew_class
    FROM m ORDER BY brand
    """,
)
def ds_brand_skew_classes(spark, sf_dir):
    """DS q17 shape: mean-vs-median skew screening per brand — a brand
    whose mean line price exceeds its median by >10% is 'right-skewed'
    (a few expensive outlier lines), the mirror for left skew. The
    compare is the cross-multiplication sum·10 > median·n·11 so no
    mean is ever divided out; the exact median doubles are identical in
    both engines (same integer multiset, same interpolation rule).

    Scale: one fact scan, part broadcast; percentile is Spark's exact
    aggregate — per-group state is the value multiset, fine at
    |brands| grain; the documented approx_percentile swap applies when
    group counts explode.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    m = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("l_extendedprice")).alias("cents"),
            F.percentile(cents("l_extendedprice"), F.lit(0.5)).alias("median_cents"),
        )
    )
    mean_gt = F.col("cents").cast("double") * 10 > F.col("median_cents") * F.col("n") * 11
    mean_lt = F.col("cents").cast("double") * 11 < F.col("median_cents") * F.col("n") * 10
    return (
        m.select(
            "brand",
            F.col("n").cast("bigint").alias("n"),
            F.col("cents").cast("bigint").alias("cents"),
            F.floor(F.col("median_cents") * 100).cast("bigint").alias("median_centicents"),
            F.when(mean_gt, F.lit("right-skewed"))
            .when(mean_lt, F.lit("left-skewed"))
            .otherwise(F.lit("balanced"))
            .alias("skew_class"),
        )
        .orderBy("brand")
    )


@register(
    "ds_hourly_entropy",
    tags=("tpcds-shape", "stats", "entropy"),
    oracle="""
    WITH hourly AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_h
        FROM events GROUP BY event_type, hr
    ), tot AS (
        SELECT event_type, sum(n_h) AS n FROM hourly GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(t.n AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_active_hours,
           CAST(floor(sum(-(CAST(h.n_h AS DOUBLE) / t.n)
                          * ln(CAST(h.n_h AS DOUBLE) / t.n)) * 1000000.0) AS BIGINT)
               AS entropy_uppm
    FROM hourly h JOIN tot t ON h.event_type = t.event_type
    GROUP BY h.event_type, t.n
    ORDER BY h.event_type
    """,
)
def ds_hourly_entropy(spark, sf_dir):
    """DS q90 shape: Shannon entropy of each event type's hour-of-day
    distribution (micro-nat floor): flat 24-hour activity → ln(24) ≈
    3.178, a bursty bot-like type → near 0. The screening signal for
    activity diversity. Both engines compute -Σ p·ln p from the same
    (n_h, n) integers; the ppm floor sits ~9 orders of magnitude above
    a last-ulp ln() discrepancy.

    Scale: (event_type, hour) aggregate is ≤ types×24 rows after one
    map-side-combined shuffle; the entropy sum is a second tiny agg.
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_h"))
    tot = hourly.groupBy("event_type").agg(F.sum("n_h").alias("n"))
    p = F.col("n_h").cast("double") / F.col("n")
    return (
        hourly.join(tot, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_hours"),
            F.floor(F.sum(-p * F.log(p)) * 1000000.0).cast("bigint").alias("entropy_uppm"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            "n_active_hours",
            "entropy_uppm",
        )
        .orderBy("event_type")
    )
