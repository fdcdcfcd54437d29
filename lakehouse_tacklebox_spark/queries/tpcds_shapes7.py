"""TPC-DS query shapes, seventh wave: cross-year purchase chains,
return→rebuy sequences, prior-peak drawdowns and market concentration
from the reference's 99-query battery (reference: 30-performance/TPC-DS
Runner/notebooks/create_data_and_queries.scala:96-99, tpcds2_4QueriesMap).

Shapes in this wave (DS query each models):
- q64     → ds_repeat_part_purchases (same customer, same item, two
            different years — the cross-year purchase-chain join)
- q25/q29 → ds_rebuy_after_return   (bought → returned → bought again
            sequence per customer-item)
- q51     → ds_cummax_drawdown      (months trailing their own prior
            peak by >25%, running-max window)
- q31     → ds_nation_concentration (supplier revenue HHI per nation —
            squared-share concentration index)

Determinism contract (same as tpcds_shapes.py/2-6): exact integer cents,
screens as integer cross-multiplications, shares as one mirrored
floor(double) ppm, HHI as an exact integer sum of squared ppm shares.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_repeat_part_purchases",
    tags=("tpcds-shape", "cross-year-chain"),
    oracle="""
    WITH cpy AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p,
               EXTRACT(year FROM o.o_orderdate) AS y
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), pairs AS (
        SELECT a.c, a.y AS y1, b.y AS y2
        FROM cpy a JOIN cpy b ON a.c = b.c AND a.p = b.p AND a.y < b.y
    )
    SELECT CAST(y1 AS BIGINT) AS year_a, CAST(y2 AS BIGINT) AS year_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c) AS BIGINT) AS n_customers
    FROM pairs
    GROUP BY year_a, year_b
    ORDER BY year_a, year_b
    """,
)
def ds_repeat_part_purchases(spark, sf_dir):
    """DS q64 shape: the cross-year purchase chain — the same customer
    buying the same item in two different years, censused by year pair.
    DS q64 writes this as a store_sales-to-store_sales self-join on
    (customer, item) with different date dims; the Spark-first form
    collects each (customer, item)'s distinct years and explodes the
    ordered year pairs with JVM array functions — ≤C(7,2) pairs per
    group, no fact self-join anywhere (the ds_basket_pairs move, here
    on the temporal axis).

    Scale: one fact pass to the distinct (customer, item, year) frame,
    one (customer, item) shuffle for the year-set agg, then a
    pure-narrow pair explode and the tiny year-pair census. The
    self-join formulation shuffles the distinct frame twice and probes
    |frame| rows; this shuffles it once.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    cpy = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            F.year("o_orderdate").cast("bigint").alias("y"),
        )
        .distinct()
    )
    years = cpy.groupBy("c", "p").agg(F.sort_array(F.collect_set("y")).alias("ys"))
    pairs = (
        years.filter(F.size("ys") >= 2)
        .select(
            "c",
            F.explode(
                F.expr(
                    "flatten(transform(ys, (a, i) ->"
                    " transform(slice(ys, i + 2, size(ys)), b ->"
                    " struct(a AS year_a, b AS year_b))))"
                )
            ).alias("pr"),
        )
        .select("c", "pr.year_a", "pr.year_b")
    )
    return (
        pairs.groupBy("year_a", "year_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_distinct("c").cast("bigint").alias("n_customers"),
        )
        .orderBy("year_a", "year_b")
    )


@register(
    "ds_rebuy_after_return",
    tags=("tpcds-shape", "sequence"),
    oracle="""
    WITH cp AS (
        SELECT o.o_custkey AS c,
               min(CASE WHEN l.l_returnflag = 'R' THEN o.o_orderdate END) AS first_ret,
               max(CASE WHEN l.l_returnflag <> 'R' THEN o.o_orderdate END) AS last_buy
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY c, l.l_partkey
    )
    SELECT c2.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_rebuy_pairs,
           CAST(count(DISTINCT cp.c) AS BIGINT) AS n_customers
    FROM cp JOIN customer c2 ON cp.c = c2.c_custkey
    WHERE first_ret IS NOT NULL AND last_buy > first_ret
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_rebuy_after_return(spark, sf_dir):
    """DS q25/q29 shape: the bought → returned → bought-again sequence —
    (customer, item) groups where a non-returned purchase postdates the
    first return of that same item, censused by market segment. DS
    writes the chain as store_sales ⋈ store_returns ⋈ catalog_sales
    with three date dims; per-group conditional MIN/MAX over one fact
    pass detects the same temporal pattern without a single self-join.

    Scale: one fact pass (lineitem ⋈ orders on the co-partitioned
    orderkey) to (customer, item) conditional extrema — map-side
    combinable; the sequence test and segment census run on the
    reduced frame. Sequence-pattern detection as aggregation, not
    joins: the shape that survives a 100 TB event history.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer"])
    is_ret = F.col("l_returnflag") == "R"
    cp = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey"))
        .agg(
            F.min(F.when(is_ret, F.col("o_orderdate"))).alias("first_ret"),
            F.max(F.when(~is_ret, F.col("o_orderdate"))).alias("last_buy"),
        )
        .filter(F.col("first_ret").isNotNull() & (F.col("last_buy") > F.col("first_ret")))
    )
    return (
        cp.join(maybe_broadcast(t["customer"], "customer"), F.col("c") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rebuy_pairs"),
            F.count_distinct("c").cast("bigint").alias("n_customers"),
        )
        .orderBy("segment")
    )


@register(
    "ds_cummax_drawdown",
    tags=("tpcds-shape", "window", "running-max"),
    oracle="""
    WITH m AS (
        SELECT n.n_name AS nation,
               (EXTRACT(year FROM o.o_orderdate) * 12
                + EXTRACT(month FROM o.o_orderdate)) AS month_idx,
               sum(CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                   AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY nation, month_idx
    ), w AS (
        SELECT nation, CAST(month_idx AS BIGINT) AS month_idx,
               CAST(cents AS BIGINT) AS cents,
               CAST(max(cents) OVER (PARTITION BY nation ORDER BY month_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
                   AS prior_peak
        FROM m
    )
    SELECT nation, month_idx, cents, prior_peak,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0 / prior_peak) AS BIGINT)
               AS vs_peak_ppm
    FROM w
    WHERE prior_peak IS NOT NULL AND cents * 4 < prior_peak * 3
    ORDER BY nation, month_idx
    """,
)
def ds_cummax_drawdown(spark, sf_dir):
    """DS q51 shape: months trailing their nation's own PRIOR PEAK by
    more than 25% — the running-max comparison q51 makes between a
    channel's cumulative series and its maximum to date, sharpened to a
    drawdown screen (exact cents·4 < peak·3 cut, mirrored floor-ppm
    reported).

    Scale: one orders scan to the (nation, month) agg; the running-max
    window (ROWS UNBOUNDED PRECEDING → 1 PRECEDING, so a month never
    compares against itself) runs over the tiny monthly frame. Dims
    chain-broadcast onto the fact.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    m = (
        t["orders"]
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), month_idx.alias("month_idx"))
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    wp = (
        W.partitionBy("nation")
        .orderBy("month_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w = m.select(
        "nation",
        "month_idx",
        "cents",
        F.max("cents").over(wp).cast("bigint").alias("prior_peak"),
    )
    return (
        w.filter(
            F.col("prior_peak").isNotNull()
            & (F.col("cents") * 4 < F.col("prior_peak") * 3)
        )
        .select(
            "nation",
            "month_idx",
            "cents",
            "prior_peak",
            ppm("cents", "prior_peak").alias("vs_peak_ppm"),
        )
        .orderBy("nation", "month_idx")
    )


@register(
    "ds_nation_concentration",
    tags=("tpcds-shape", "concentration"),
    oracle=f"""
    WITH ns AS (
        SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY nk, sk
    ), sh AS (
        SELECT nk,
               CAST(floor(CAST(cents AS DOUBLE) * 1000000.0
                    / sum(cents) OVER (PARTITION BY nk)) AS BIGINT) AS share_ppm
        FROM ns
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(max(sh.share_ppm) AS BIGINT) AS top_share_ppm,
           CAST(sum(sh.share_ppm * sh.share_ppm) AS BIGINT) AS hhi
    FROM sh JOIN nation n ON sh.nk = n.n_nationkey
    GROUP BY nation
    ORDER BY nation
    """,
)
def ds_nation_concentration(spark, sf_dir):
    """DS q31 family turned concentration index: per nation, the
    Herfindahl–Hirschman index of supplier revenue — the sum of squared
    ppm shares (10¹² = monopoly) plus the top supplier's share. Each
    share is the mirrored floor-ppm over exact cents; the HHI is then
    an exact BIGINT sum of squares (max 25 · 10¹² « int64).

    Scale: the fact aggregates to (nation, supplier) cents — one
    shuffle keyed by suppkey; the share window partitions the reduced
    frame by ~25 nations; supplier and nation dims broadcast. The
    squared-share sum is map-side combinable.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    ns = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_nationkey").alias("nk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(rev_cents()).cast("bigint").alias("cents"))
    )
    share = ppm(F.col("cents"), F.sum("cents").over(W.partitionBy("nk")))
    sh = ns.select("nk", share.alias("share_ppm"))
    return (
        sh.join(F.broadcast(t["nation"]), F.col("nk") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.max("share_ppm").cast("bigint").alias("top_share_ppm"),
            F.sum(F.col("share_ppm") * F.col("share_ppm")).cast("bigint").alias("hhi"),
        )
        .orderBy("nation")
    )
