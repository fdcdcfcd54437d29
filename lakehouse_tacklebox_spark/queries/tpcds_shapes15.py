"""TPC-DS query shapes, fifteenth wave: mix-shift analysis and medians
of window outputs (reference: 30-performance/TPC-DS Runner/notebooks/
create_data_and_queries.scala:96-99).

- q89/q62 → ds_weighted_avg_price_mix (quantity-weighted vs simple
            average unit price per brand — the mix-shift divergence
            that reveals volume skew toward cheap or expensive lines;
            the compare is an exact integer cross-multiplication of
            the two rational means)
- q?(CLV) → ds_median_order_gap (MEDIAN of per-customer inter-order
            gaps per segment — a percentile over the OUTPUT of a lag
            window, composing the two; the avg variant exists as
            ds_repeat_purchase_gap, and medians resist the outlier
            customers that drag the mean)

Determinism contract as tpcds_shapes.py/2-14; the median doubles are
identical in both engines (same integer multiset, same interpolation).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, cents, ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_weighted_avg_price_mix",
    tags=("tpcds-shape", "stats", "mix"),
    oracle=f"""
    WITH m AS (
        SELECT p.p_brand AS brand,
               count(*) AS n_lines,
               sum(CAST(l.l_quantity AS BIGINT)) AS total_qty,
               sum({CENTS_SQL.format(c='l.l_extendedprice')}) AS cents,
               sum({CENTS_SQL.format(c='l.l_extendedprice')}
                   * CAST(l.l_quantity AS BIGINT)) AS qty_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand
    )
    SELECT brand,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(total_qty AS BIGINT) AS total_qty,
           CAST(cents AS BIGINT) AS cents,
           CAST(CASE WHEN qty_cents * n_lines > cents * total_qty THEN 1
                     ELSE 0 END AS BIGINT) AS volume_skews_expensive,
           CAST(floor(CAST(qty_cents AS DOUBLE) * n_lines * 1000000.0
                      / (CAST(cents AS DOUBLE) * total_qty)) AS BIGINT)
               AS mix_index_ppm
    FROM m ORDER BY brand
    """,
)
def ds_weighted_avg_price_mix(spark, sf_dir):
    """DS q89/q62 shape: mix-shift analysis — each brand's
    quantity-WEIGHTED mean line price vs its simple mean. weighted >
    simple means big-quantity lines carry the expensive prices (volume
    skews expensive); the compare is the exact cross-multiplication
    (Σp·q)·n > (Σp)·(Σq), no mean ever divided out, plus the mirrored
    ppm mix index (1,000,000 = no mix effect).

    Scale: one fact scan with part broadcast; all four moments are
    map-side-combinable integer sums per |brands| group (p·q products
    ≤ 1e7·50·6e5 rows ≈ 1e14 — inside int64 with headroom).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    qty = F.col("l_quantity").cast("bigint")
    m = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(qty).alias("total_qty"),
            F.sum(cents("l_extendedprice")).alias("cents"),
            F.sum(cents("l_extendedprice") * qty).alias("qty_cents"),
        )
    )
    skew = F.col("qty_cents") * F.col("n_lines") > F.col("cents") * F.col("total_qty")
    return (
        m.select(
            "brand",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("total_qty").cast("bigint").alias("total_qty"),
            F.col("cents").cast("bigint").alias("cents"),
            F.when(skew, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("volume_skews_expensive"),
            ppm(
                F.col("qty_cents").cast("double") * F.col("n_lines"),
                F.col("cents").cast("double") * F.col("total_qty"),
            ).alias("mix_index_ppm"),
        )
        .orderBy("brand")
    )


@register(
    "ds_median_order_gap",
    tags=("tpcds-shape", "window", "percentile"),
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                     ORDER BY o_orderdate, o_orderkey) AS DATE),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(floor(CAST(median(g.gap_days) AS DOUBLE) * 100) AS BIGINT)
               AS median_gap_centidays,
           CAST(max(g.gap_days) AS BIGINT) AS max_gap_days
    FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
    WHERE g.gap_days IS NOT NULL
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_median_order_gap(spark, sf_dir):
    """DS CLV family: the MEDIAN days between a customer's consecutive
    orders, per segment — a percentile over the OUTPUT of a lag window
    (ds_repeat_purchase_gap is the mean variant; medians resist the
    dormant-customer outliers that drag it). Exact percentile on the
    integer gap multiset; both engines interpolate even counts
    identically, and the output floors to centidays.

    Scale: one orders shuffle for the per-customer lag window; the
    percentile groups on |segments| with integer inputs; customer
    broadcasts onto the reduced gaps frame.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t["orders"]
        .select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(
            maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.floor(F.percentile(F.col("gap_days"), F.lit(0.5)) * 100)
            .cast("bigint")
            .alias("median_gap_centidays"),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("segment")
    )
