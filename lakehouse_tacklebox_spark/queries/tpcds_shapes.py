"""TPC-DS query shapes beyond q5/q88 (already in tpch_extra3): the
classic patterns the reference's 99-query TPC-DS battery leans on
(create_data_and_queries.scala:96-99), adapted to the testdata tables.

Shape map (DS query → entry here):
- q2   weekly channel share            → ds_week_channel_share
- q51  cumulative channel compare      → ds_cumulative_channel_compare
- q38  multi-period customer INTERSECT → ds_customer_year_intersect
- q67  top-k items within rollup group → ds_top_parts_per_brand
- q53  monthly deviation vs item avg   → ds_brand_monthly_deviation
- q74  year-over-year customer growth  → ds_yoy_customer_growth
- q30  above-group-average customers   → ds_above_segment_avg
- q90  am/pm activity ratio            → ds_hour_ratio_daily

Determinism: money is integer cents end-to-end (exact DECIMAL → BIGINT);
every ratio is emitted as floor(a * 1e6 / b) parts-per-million — the
inputs are exact integers, the one double op is mirrored order-for-order
on both engines, and floor makes the result an integer, so no float
round boundary can disagree with the oracle.

Scale: every entry reads its fact table ONCE (conditional aggregation
replaces DS's self-joined subqueries), dims broadcast, and group
comparisons (avg, total, rank) are windows over already-aggregated
frames — the second shuffle moves grouped rows, never fact rows.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, cents, ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


_HIGH = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


@register(
    "ds_week_channel_share",
    tags=("tpcds-shape", "agg", "window"),
    bench=True,
    oracle=f"""
    SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
           CAST(sum(CASE WHEN {_HIGH} THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS BIGINT) AS high_cents,
           CAST(sum(CASE WHEN NOT ({_HIGH}) THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS BIGINT) AS low_cents,
           CAST(floor(CAST(sum(CASE WHEN {_HIGH} THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS DOUBLE)
                      * 1000000.0
                      / sum({CENTS_SQL.format(c='o_totalprice')})) AS BIGINT) AS high_share_ppm
    FROM orders
    GROUP BY week
    """,
)
def ds_week_channel_share(spark, sf_dir):
    """DS q2 shape: weekly sales split across two 'channels' (high vs low
    order priority) with each week's high-priority share. One fact scan —
    the channel split is conditional aggregation, not a self-join; the
    share divides two exact cent sums into integer ppm."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o_cents = cents("o_totalprice")
    agg = (
        o.groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("week"))
        .agg(
            F.sum(F.when(high, o_cents).otherwise(F.lit(0))).alias("high_cents"),
            F.sum(F.when(~high, o_cents).otherwise(F.lit(0))).alias("low_cents"),
        )
    )
    return agg.select(
        "week",
        "high_cents",
        "low_cents",
        ppm("high_cents", F.col("high_cents") + F.col("low_cents")).alias("high_share_ppm"),
    )


@register(
    "ds_cumulative_channel_compare",
    tags=("tpcds-shape", "window", "cumulative"),
    bench=True,
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               sum(CASE WHEN {_HIGH} THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS hi,
               sum(CASE WHEN NOT ({_HIGH}) THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS lo
        FROM orders GROUP BY month
    ), cum AS (
        SELECT month,
               CAST(sum(hi) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_high,
               CAST(sum(lo) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_low
        FROM monthly
    )
    SELECT month, cum_high, cum_low FROM cum WHERE cum_high > cum_low
    """,
)
def ds_cumulative_channel_compare(spark, sf_dir):
    """DS q51 shape: running per-channel cumulative totals compared month
    by month — the months where the high-priority channel's running total
    leads. DS writes this as a FULL OUTER self-join of two windowed
    subqueries; one conditional agg + one window needs a single scan.
    The global-ordered window runs on the ~80-row monthly frame, not the
    fact table, so the single-partition sort is a non-issue at any SF."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o_cents = cents("o_totalprice")
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.sum(F.when(high, o_cents).otherwise(F.lit(0))).alias("hi"),
            F.sum(F.when(~high, o_cents).otherwise(F.lit(0))).alias("lo"),
        )
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        monthly.select(
            "month",
            F.sum("hi").over(w).alias("cum_high"),
            F.sum("lo").over(w).alias("cum_low"),
        )
        .filter(F.col("cum_high") > F.col("cum_low"))
    )


@register(
    "ds_customer_year_intersect",
    tags=("tpcds-shape", "setop", "agg"),
    bench=True,
    oracle="""
    SELECT count(*) AS n_customers FROM (
        SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1995
        INTERSECT
        SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1996
        INTERSECT
        SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1997
    )
    """,
)
def ds_customer_year_intersect(spark, sf_dir):
    """DS q38 shape: customers active in all three periods. DS spells it
    INTERSECT of three channel scans; the single-pass form is one
    conditional aggregation per customer + a three-way presence filter —
    one fact scan and one shuffle on the customer key instead of three
    scans and two set-op shuffles."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    y = F.year("o_orderdate")
    per_cust = o.groupBy("o_custkey").agg(
        *[
            F.count(F.when(y == yr, 1)).alias(f"n{yr}")
            for yr in (1995, 1996, 1997)
        ]
    )
    present_all = (F.col("n1995") > 0) & (F.col("n1996") > 0) & (F.col("n1997") > 0)
    return per_cust.filter(present_all).agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "ds_top_parts_per_brand",
    tags=("tpcds-shape", "window", "topk"),
    bench=True,
    oracle=f"""
    WITH pr AS (
        SELECT p_brand, l_partkey,
               CAST(sum({CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT) AS cents
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand, l_partkey
    ), ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY cents DESC, l_partkey) AS INT) AS rnk
        FROM pr
    )
    SELECT p_brand, l_partkey AS partkey, cents, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def ds_top_parts_per_brand(spark, sf_dir):
    """DS q67 shape: top-k items inside each rollup group (top-3 parts by
    revenue per brand). The brand dim broadcasts into the fact scan; the
    per-(brand, part) agg is the only fact shuffle; the rank-k filter is
    a WindowGroupLimit that prunes map-side before the window shuffle.
    Fully tie-broken (cents DESC, partkey) so top-3 is deterministic."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    pr = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"].select("p_partkey", "p_brand"), "part"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("cents"))
    )
    w = W.partitionBy("p_brand").orderBy(F.col("cents").desc(), "l_partkey")
    return (
        pr.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", F.col("l_partkey").alias("partkey"), "cents", "rnk")
    )


@register(
    "ds_brand_monthly_deviation",
    tags=("tpcds-shape", "window", "agg"),
    bench=True,
    oracle=f"""
    WITH bm AS (
        SELECT p_brand, CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               sum({CENTS_SQL.format(c='l_extendedprice')}) AS cents
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand, month
    ), stats AS (
        SELECT *, sum(cents) OVER (PARTITION BY p_brand) AS tot,
                  count(*) OVER (PARTITION BY p_brand) AS n_months
        FROM bm
    )
    SELECT p_brand, month, CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents * n_months AS DOUBLE) * 1000000.0 / tot) AS BIGINT) AS dev_ppm
    FROM stats
    WHERE cents * n_months * 10 > 13 * tot OR cents * n_months * 10 < 7 * tot
    """,
)
def ds_brand_monthly_deviation(spark, sf_dir):
    """DS q53 shape: months where a brand's revenue deviates >±30% from
    that brand's monthly average. The avg compare is cross-multiplied
    integer arithmetic (m·n·10 vs 13·T) — no division until the reported
    ppm — so the filter cut is bit-exact on both engines."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    bm = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"].select("p_partkey", "p_brand"), "part"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(F.sum(cents("l_extendedprice")).alias("cents"))
    )
    wb = W.partitionBy("p_brand")
    stats = bm.withColumn("tot", F.sum("cents").over(wb)).withColumn(
        "n_months", F.count(F.lit(1)).over(wb)
    )
    m_n = F.col("cents") * F.col("n_months")
    return (
        stats.filter((m_n * 10 > 13 * F.col("tot")) | (m_n * 10 < 7 * F.col("tot")))
        .select("p_brand", "month", "cents", ppm(m_n, F.col("tot")).alias("dev_ppm"))
    )


@register(
    "ds_yoy_customer_growth",
    tags=("tpcds-shape", "agg", "conditional"),
    bench=True,
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CASE WHEN extract(year FROM o_orderdate) = 1995
                        THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS y1_cents,
               sum(CASE WHEN extract(year FROM o_orderdate) = 1996
                        THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS y2_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey, CAST(y1_cents AS BIGINT) AS y1_cents, CAST(y2_cents AS BIGINT) AS y2_cents,
           CAST(floor(CAST(y2_cents AS DOUBLE) * 1000000.0 / y1_cents) AS BIGINT) AS growth_ppm
    FROM per_cust
    WHERE y1_cents > 0 AND y2_cents * 2 > y1_cents * 3
    """,
)
def ds_yoy_customer_growth(spark, sf_dir):
    """DS q74 shape: customers whose next-year spend grew >50% — DS joins
    two per-year subqueries on the customer key; conditional aggregation
    gets both years in one scan and one shuffle. Growth test is integer
    cross-multiplication; the reported ratio is integer ppm."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    y = F.year("o_orderdate")
    o_cents = cents("o_totalprice")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(y == 1995, o_cents).otherwise(F.lit(0))).alias("y1_cents"),
        F.sum(F.when(y == 1996, o_cents).otherwise(F.lit(0))).alias("y2_cents"),
    )
    return (
        per_cust.filter((F.col("y1_cents") > 0) & (F.col("y2_cents") * 2 > F.col("y1_cents") * 3))
        .select(
            F.col("o_custkey").alias("custkey"),
            "y1_cents",
            "y2_cents",
            ppm("y2_cents", "y1_cents").alias("growth_ppm"),
        )
    )


@register(
    "ds_above_segment_avg",
    tags=("tpcds-shape", "window", "agg"),
    bench=True,
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey, sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders GROUP BY o_custkey
    ), seg AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, coalesce(cents, 0) AS cents
        FROM customer LEFT JOIN per_cust ON o_custkey = c_custkey
    ), stats AS (
        SELECT *, sum(cents) OVER (PARTITION BY c_nationkey, c_mktsegment) AS tot,
                  count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n
        FROM seg
    )
    SELECT c_custkey AS custkey, CAST(c_nationkey AS INT) AS nationkey, c_mktsegment AS mktsegment,
           CAST(cents AS BIGINT) AS cents
    FROM stats WHERE cents * 10 * n > 13 * tot
    """,
)
def ds_above_segment_avg(spark, sf_dir):
    """DS q30 shape: customers spending >1.3× their (nation, segment)
    group average. The group average never materializes: the test is
    cents·10·n > 13·total over window aggregates — exact integers.
    Customers with no orders count into their group's average (LEFT
    join + coalesce 0), matching DS semantics."""
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    per_cust = t["orders"].groupBy("o_custkey").agg(F.sum(cents("o_totalprice")).alias("cents"))
    seg = (
        t["customer"]
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .join(per_cust, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select("c_custkey", "c_nationkey", "c_mktsegment", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    wg = W.partitionBy("c_nationkey", "c_mktsegment")
    return (
        seg.withColumn("tot", F.sum("cents").over(wg))
        .withColumn("n", F.count(F.lit(1)).over(wg))
        .filter(F.col("cents") * 10 * F.col("n") > 13 * F.col("tot"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            "cents",
        )
    )


@register(
    "ds_hour_ratio_daily",
    tags=("tpcds-shape", "agg", "conditional"),
    bench=True,
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(CASE WHEN extract(hour FROM ts) BETWEEN 7 AND 11 THEN 1 END) AS am_ct,
               count(CASE WHEN extract(hour FROM ts) BETWEEN 19 AND 23 THEN 1 END) AS pm_ct
        FROM events WHERE event_type = 'view'
        GROUP BY day
    )
    SELECT day, CAST(am_ct AS BIGINT) AS am_ct, CAST(pm_ct AS BIGINT) AS pm_ct,
           CAST(floor(CAST(am_ct AS DOUBLE) * 1000000.0 / pm_ct) AS BIGINT) AS ratio_ppm
    FROM daily WHERE pm_ct > 0
    """,
)
def ds_hour_ratio_daily(spark, sf_dir):
    """DS q90 shape: am/pm activity ratio per day — two disjoint
    time-window counts from ONE scan (DS spells it as two self-joined
    subqueries) and an integer-ppm ratio."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    h = F.hour("ts")
    daily = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count(F.when(h.between(7, 11), 1)).alias("am_ct"),
            F.count(F.when(h.between(19, 23), 1)).alias("pm_ct"),
        )
    )
    return daily.filter(F.col("pm_ct") > 0).select(
        "day", "am_ct", "pm_ct", ppm("am_ct", "pm_ct").alias("ratio_ppm")
    )
