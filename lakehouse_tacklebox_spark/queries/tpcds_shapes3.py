"""TPC-DS query shapes, third wave: window-analytics patterns from the
reference's 99-query battery (create_data_and_queries.scala:96-99) —
moving-average deviation, cohort retention, exact medians, Pareto
cut-off, reactivation, percentile cuts, and growth streaks.

Determinism contract (as tpcds_shapes.py/2): exact integer cents, ppm
ratios as a single mirrored floor(double) op, windows with total orders,
month arithmetic on (year*12+month) integers. percent_rank/percentile
are the two double-valued windows here; both engines evaluate the same
closed formula over the same exact integers ((rank-1)/(n-1) and the
(a+b)/2 midpoint), so the doubles are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_moving_avg_deviation",
    tags=("tpcds-shape", "window", "moving-avg"),
    bench=True,
    oracle=f"""
    WITH monthly AS (
        SELECT n.n_name AS nation,
               (EXTRACT(year FROM o.o_orderdate) * 12
                + EXTRACT(month FROM o.o_orderdate)) AS month_idx,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY nation, month_idx
    ), win AS (
        SELECT nation, CAST(month_idx AS BIGINT) AS month_idx,
               CAST(cents AS BIGINT) AS cents,
               CAST(sum(cents) OVER (PARTITION BY nation ORDER BY month_idx
                    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS win_cents,
               CAST(count(*) OVER (PARTITION BY nation ORDER BY month_idx
                    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS win_n
        FROM monthly
    )
    SELECT nation, month_idx, cents,
           CAST(floor(CAST(cents AS DOUBLE) * win_n * 1000000.0 / win_cents) AS BIGINT)
               AS vs_moving_avg_ppm
    FROM win
    ORDER BY nation, month_idx
    """,
)
def ds_moving_avg_deviation(spark, sf_dir):
    """DS q47 shape: each nation-month's sales vs its centered 3-month
    moving average, as an integer ppm ratio (1,000,000 = exactly on
    trend).

    Scale: one orders scan into the (nation, month) agg; the moving
    window runs over the grouped frame partitioned by nation. The ratio
    multiplies cents by the window row count and divides by the window
    sum — all exact ints under one mirrored double expression.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    monthly = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_idx"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = W.partitionBy("nation").orderBy("month_idx").rowsBetween(-1, 1)
    win = monthly.select(
        "nation",
        "month_idx",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("win_cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("win_n"),
    )
    return win.select(
        "nation",
        "month_idx",
        "cents",
        ppm(F.col("cents").cast("double") * F.col("win_n"), "win_cents").alias("vs_moving_avg_ppm"),
    ).orderBy("nation", "month_idx")


@register(
    "ds_first_purchase_cohort",
    tags=("tpcds-shape", "cohort", "window"),
    bench=True,
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               min(EXTRACT(year FROM o_orderdate) * 12
                   + EXTRACT(month FROM o_orderdate)) AS cohort_idx
        FROM orders GROUP BY o_custkey
    ), offsets AS (
        SELECT f.cohort_idx,
               (EXTRACT(year FROM o.o_orderdate) * 12
                + EXTRACT(month FROM o.o_orderdate)) - f.cohort_idx AS month_offset,
               o.o_custkey
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT CAST(cohort_idx AS BIGINT) AS cohort_idx,
           CAST(LEAST(month_offset, 3) AS BIGINT) AS offset_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM offsets
    GROUP BY cohort_idx, offset_bucket
    ORDER BY cohort_idx, offset_bucket
    """,
)
def ds_first_purchase_cohort(spark, sf_dir):
    """Cohort retention (DS CLV family): customers bucketed by first-
    purchase month; orders and active customers per cohort at month
    offsets 0/1/2/3+ — the classic retention triangle.

    Scale: the cohort index is a groupBy(custkey) min() — map-side
    combinable; the offset join brings the 2-column cohort frame back to
    orders on the SAME custkey hash (one shuffle each side, AQE can
    broadcast the reduced cohort frame); month math is pure integer.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    firsts = o.groupBy("o_custkey").agg(F.min(midx).alias("cohort_idx"))
    offsets = o.select("o_custkey", midx.alias("midx")).join(firsts, "o_custkey")
    return (
        offsets.select(
            "o_custkey",
            "cohort_idx",
            F.least(F.col("midx") - F.col("cohort_idx"), F.lit(3)).alias("offset_bucket"),
        )
        .groupBy("cohort_idx", "offset_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        )
        .orderBy("cohort_idx", "offset_bucket")
    )


@register(
    "ds_median_brand_price",
    tags=("tpcds-shape", "percentile"),
    oracle=f"""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           quantile_cont({CENTS_SQL.format(c='p_retailprice')}, 0.5) AS median_price_cents,
           CAST(min({CENTS_SQL.format(c='p_retailprice')}) AS BIGINT) AS min_cents,
           CAST(max({CENTS_SQL.format(c='p_retailprice')}) AS BIGINT) AS max_cents
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def ds_median_brand_price(spark, sf_dir):
    """Exact per-brand price median (DS q49-family statistics). The
    median interpolates the midpoint of two exact integer cent values —
    (a+b)/2 is exactly representable, so Spark's percentile() and
    DuckDB's quantile_cont() agree bitwise.

    Scale: exact percentile collects the per-group value multiset — fine
    on a dimension table (parts per brand is bounded); fact-table
    quantiles go through approx_percentile (agg_approx_distinct family)
    instead.
    """
    p = load_tables(spark, sf_dir, ["part"])["part"]
    p_cents = cents("p_retailprice")
    return (
        p.select("p_brand", p_cents.alias("cents"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.expr("percentile(cents, 0.5D)").alias("median_price_cents"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )
        .orderBy("p_brand")
    )


@register(
    "ds_pareto_brands",
    tags=("tpcds-shape", "window", "cumulative"),
    bench=True,
    oracle=f"""
    WITH brand_rev AS (
        SELECT p.p_brand, sum({REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')}) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ), ranked AS (
        SELECT p_brand, CAST(cents AS BIGINT) AS cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, p_brand
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
               CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        FROM brand_rev
    )
    SELECT p_brand, cents,
           CAST(floor(CAST(cum_cents AS DOUBLE) * 1000000.0 / total_cents) AS BIGINT)
               AS cum_share_ppm
    FROM ranked
    WHERE (cum_cents - cents) * 5 < total_cents * 4
    ORDER BY cents DESC, p_brand
    """,
)
def ds_pareto_brands(spark, sf_dir):
    """Pareto cut (DS top-share family): brands by revenue, kept while
    the cumulative share BEFORE each brand is under 80% — the smallest
    prefix crossing 80%, crossing brand included.

    Scale: one lineitem scan, part broadcast, |brands|-row window frame.
    The 80% cut is exact integer cross-multiplication
    ((cum-cents)·5 < total·4) — no float boundary; the reported share is
    display-only ppm.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    brand_rev = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.sum(rev_cents()).alias("cents"))
    )
    cum_w = W.orderBy(F.desc("cents"), "p_brand").rowsBetween(W.unboundedPreceding, 0)
    ranked = brand_rev.select(
        "p_brand",
        F.col("cents").cast("bigint").alias("cents"),
        F.sum("cents").over(cum_w).cast("bigint").alias("cum_cents"),
        F.sum("cents").over(W.partitionBy()).cast("bigint").alias("total_cents"),
    )
    return (
        ranked.filter((F.col("cum_cents") - F.col("cents")) * 5 < F.col("total_cents") * 4)
        .select("p_brand", "cents", ppm("cum_cents", "total_cents").alias("cum_share_ppm"))
        .orderBy(F.desc("cents"), "p_brand")
    )


@register(
    "ds_reactivated_customers",
    tags=("tpcds-shape", "conditional", "cohort"),
    oracle="""
    WITH yearly AS (
        SELECT o_custkey,
               max(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y1,
               max(CASE WHEN EXTRACT(year FROM o_orderdate) = 1998 THEN 1 ELSE 0 END) AS y2,
               max(CASE WHEN EXTRACT(year FROM o_orderdate) < 1997 THEN 1 ELSE 0 END) AS before
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS segment,
           CAST(sum(CASE WHEN y.before = 1 AND y.y1 = 0 AND y.y2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS reactivated,
           CAST(sum(CASE WHEN y.y1 = 1 AND y.y2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
           CAST(sum(CASE WHEN y.y1 = 1 AND y.y2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS churned
    FROM yearly y JOIN customer c ON y.o_custkey = c.c_custkey
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_reactivated_customers(spark, sf_dir):
    """Reactivation census (DS q38/q87 family recast): per segment, how
    many customers skipped 1997 but returned in 1998 (reactivated) vs
    bought in both (retained) vs went quiet (churned).

    Scale: per-customer year flags from ONE orders scan (three max()
    flags, map-side combinable) — DS writes this as EXCEPT/INTERSECT
    chains over three scans; flags need one. The customer join attaches
    the segment to the reduced per-customer frame.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    yr = F.year("o_orderdate")
    yearly = t["orders"].groupBy("o_custkey").agg(
        F.max(F.when(yr == 1997, 1).otherwise(0)).alias("y1"),
        F.max(F.when(yr == 1998, 1).otherwise(0)).alias("y2"),
        F.max(F.when(yr < 1997, 1).otherwise(0)).alias("before"),
    )
    return (
        yearly.join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(
                F.when((F.col("before") == 1) & (F.col("y1") == 0) & (F.col("y2") == 1), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("reactivated"),
            F.sum(F.when((F.col("y1") == 1) & (F.col("y2") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("retained"),
            F.sum(F.when((F.col("y1") == 1) & (F.col("y2") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("churned"),
        )
        .orderBy("segment")
    )


@register(
    "ds_top_percent_customers",
    tags=("tpcds-shape", "window", "percentile"),
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders GROUP BY o_custkey
    ), pr AS (
        SELECT o_custkey, CAST(cents AS BIGINT) AS cents,
               percent_rank() OVER (ORDER BY cents, o_custkey) AS pr
        FROM spend
    )
    SELECT o_custkey, cents
    FROM pr WHERE pr > 0.99
    ORDER BY cents DESC, o_custkey
    """,
)
def ds_top_percent_customers(spark, sf_dir):
    """DS q49-family percentile cut: customers above the 99th
    percent_rank of lifetime spend. percent_rank = (rank-1)/(n-1) — the
    same closed formula over the same total order on exact ints on both
    engines, so the >0.99 cut is deterministic.

    Scale: the window orders the GROUPED per-customer frame; like
    ds_ntile_spend_bands this is the exact-semantics variant — at 100 TB
    the cut point comes from approx_percentile + broadcast instead.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("cents")
    )
    pr = spend.select(
        "o_custkey",
        F.col("cents").cast("bigint").alias("cents"),
        F.percent_rank().over(W.orderBy("cents", "o_custkey")).alias("pr"),
    )
    return (
        pr.filter(F.col("pr") > 0.99)
        .select("o_custkey", "cents")
        .orderBy(F.desc("cents"), "o_custkey")
    )


@register(
    "ds_growth_streaks",
    tags=("tpcds-shape", "window", "streak"),
    bench=True,
    oracle=f"""
    WITH q AS (
        SELECT n.n_name AS nation,
               (EXTRACT(year FROM o.o_orderdate) * 4
                + CAST(floor((EXTRACT(month FROM o.o_orderdate) - 1) / 3) AS INT)) AS q_idx,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY nation, q_idx
    ), flagged AS (
        SELECT nation, q_idx, cents,
               CASE WHEN cents > lag(cents) OVER (PARTITION BY nation ORDER BY q_idx)
                     AND lag(cents) OVER (PARTITION BY nation ORDER BY q_idx)
                         > lag(cents, 2) OVER (PARTITION BY nation ORDER BY q_idx)
                    THEN 1 ELSE 0 END AS streak3
        FROM q
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_quarters,
           CAST(sum(streak3) AS BIGINT) AS n_streak3_quarters
    FROM flagged
    GROUP BY nation
    ORDER BY nation
    """,
)
def ds_growth_streaks(spark, sf_dir):
    """Growth-streak detection (DS q47/q57 family): quarters that cap a
    3-quarter strictly-increasing revenue run, counted per nation.

    Scale: one orders scan → (nation, quarter) agg; two lag windows over
    the grouped frame; integer comparisons only. Quarter index is pure
    integer math (year·4 + (month-1)/3).
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    q_idx = (F.year("o_orderdate") * 4 + F.floor((F.month("o_orderdate") - 1) / 3)).cast(
        "bigint"
    )
    q = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), q_idx.alias("q_idx"))
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = W.partitionBy("nation").orderBy("q_idx")
    flagged = q.select(
        "nation",
        (
            F.when(
                (F.col("cents") > F.lag("cents", 1).over(w))
                & (F.lag("cents", 1).over(w) > F.lag("cents", 2).over(w)),
                1,
            ).otherwise(0)
        ).alias("streak3"),
    )
    return (
        flagged.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_quarters"),
            F.sum("streak3").cast("bigint").alias("n_streak3_quarters"),
        )
        .orderBy("nation")
    )


@register(
    "ds_priority_segment_matrix",
    tags=("tpcds-shape", "matrix", "window"),
    oracle=f"""
    WITH cell AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               count(*) AS n_orders,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY segment, priority
    )
    SELECT segment, priority,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0
                      / sum(cents) OVER (PARTITION BY segment)) AS BIGINT) AS segment_share_ppm
    FROM cell
    ORDER BY segment, priority
    """,
)
def ds_priority_segment_matrix(spark, sf_dir):
    """Segment × priority revenue matrix with within-segment shares —
    the DS channel-matrix report shape without PIVOT (long form keeps
    the oracle and the engine result structurally identical).

    Scale: one orders scan, 25 output cells; the share window runs over
    the aggregated matrix.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    cell = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("cents"),
        )
    )
    return cell.select(
        "segment",
        "priority",
        "n_orders",
        F.col("cents").cast("bigint").alias("cents"),
        ppm("cents", F.sum("cents").over(W.partitionBy("segment"))).alias(
            "segment_share_ppm"
        ),
    ).orderBy("segment", "priority")
