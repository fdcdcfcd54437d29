"""TPC-DS query shapes, sixth wave: EXISTS/NOT-EXISTS combos, argmax
preference census, bidirectional top-k, and return-ratio screens from the
reference's 99-query battery (reference: 30-performance/TPC-DS Runner/
notebooks/create_data_and_queries.scala:96-99, tpcds2_4QueriesMap).

Shapes in this wave (DS query each models):
- q16/q94 → ds_exists_notexists_orders (EXISTS + NOT EXISTS on the fact,
            with the exclusion set itself derived from the fact)
- q4      → ds_preferred_channel_dist  (per-customer argmax channel,
            then a segment × channel census)
- q44     → ds_best_worst_parts        (top-5 and bottom-5 by one metric
            in one pass, direction-labeled)
- q78     → ds_customer_return_ratio   (per customer-year bought vs
            returned, high-return yearly census)

Determinism contract (same as tpcds_shapes.py/2-5): exact integer cents,
screens as integer cross-multiplications, argmax and top-k as row_number
with full tie-breaks (never max_by, whose tie choice is engine-defined).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import REV_CENTS_SQL, cents, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_exists_notexists_orders",
    tags=("tpcds-shape", "semi-anti"),
    bench=True,
    oracle="""
    WITH sup AS (
        SELECT l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS rq
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_suppkey
    ), tot AS (SELECT sum(rq) AS t, count(*) AS n FROM sup),
    bad AS (SELECT l_suppkey FROM sup, tot WHERE rq * n * 10 > t * 11)
    SELECT o.o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      AND NOT EXISTS (SELECT 1 FROM lineitem l JOIN bad b ON l.l_suppkey = b.l_suppkey
                      WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY priority
    ORDER BY priority
    """,
)
def ds_exists_notexists_orders(spark, sf_dir):
    """DS q16/q94 shape: orders that HAVE a returned line but touch NO
    over-returning supplier — the EXISTS + NOT EXISTS pair where the
    exclusion set is itself fact-derived (suppliers whose returned
    quantity runs >1.1× the supplier average; the relative bar keeps
    the screen meaningful at every SF, exact cross-multiplied).

    Scale: EXISTS compiles to a LeftSemi and NOT EXISTS to a LeftAnti
    on the orderkey, against projected single-column key sets. The key
    sets scale WITH the fact (every order with a returned line), so
    they are deliberately NOT hint-broadcast: at bench SF AQE
    broadcasts them dynamically, at 100 TB they become co-partitioned
    shuffle semi/anti joins on the orderkey. Only the bad-supplier set
    (|suppliers| rows) and the 1-row total are hint-broadcast. The
    fact is scanned twice (once per key set) but never joined
    row-to-row with itself.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li = t["lineitem"]
    sup = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("rq"))
    )
    tot = sup.agg(F.sum("rq").alias("t"), F.count(F.lit(1)).alias("n"))
    bad = (
        sup.join(F.broadcast(tot))
        .filter(F.col("rq") * F.col("n") * 10 > F.col("t") * 11)
        .select("l_suppkey")
    )
    has_return = (
        li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    )
    touches_bad = (
        li.join(F.broadcast(bad), "l_suppkey", "left_semi").select("l_orderkey").distinct()
    )
    return (
        t["orders"]
        .join(has_return, F.col("o_orderkey") == has_return.l_orderkey, "left_semi")
        .join(touches_bad, F.col("o_orderkey") == touches_bad.l_orderkey, "left_anti")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("cents"),
        )
        .orderBy("priority")
    )


@register(
    "ds_preferred_channel_dist",
    tags=("tpcds-shape", "argmax"),
    oracle="""
    WITH cp AS (
        SELECT o_custkey, o_orderpriority AS pr,
               sum(CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey, pr
    ), pref AS (
        SELECT o_custkey, pr, cents FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY cents DESC, pr) AS rn
            FROM cp
        ) WHERE rn = 1
    )
    SELECT c.c_mktsegment AS segment, p.pr AS preferred_channel,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(p.cents) AS BIGINT) AS preferred_cents
    FROM pref p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY segment, preferred_channel
    ORDER BY segment, preferred_channel
    """,
)
def ds_preferred_channel_dist(spark, sf_dir):
    """DS q4 shape: each customer's PREFERRED channel (argmax of spend
    across the five priority channels), then the segment × channel
    census. The argmax is row_number ordered by (cents DESC, channel) —
    max_by would be one window cheaper but its tie choice is
    engine-defined, so the deterministic form is the window.

    Scale: orders aggregates to (customer, channel) — one shuffle on
    the analysis key; the argmax window partitions by customer over the
    ≤5-row groups of the reduced frame (WindowGroupLimit prunes to the
    top row per customer before the filter); the census joins the
    |customers|-row result to the broadcast customer dim.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    cp = (
        t["orders"]
        .groupBy("o_custkey", F.col("o_orderpriority").alias("pr"))
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    rn = F.row_number().over(
        W.partitionBy("o_custkey").orderBy(F.desc("cents"), "pr")
    )
    pref = cp.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    return (
        pref.join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("pr").alias("preferred_channel"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("preferred_cents"),
        )
        .orderBy("segment", "preferred_channel")
    )


@register(
    "ds_best_worst_parts",
    tags=("tpcds-shape", "bidirectional-topk"),
    oracle=f"""
    WITH np AS (
        SELECT l.l_partkey AS partkey,
               sum(CASE WHEN l.l_returnflag = 'R' THEN -{REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}
                        ELSE {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')} END) AS net_cents
        FROM lineitem l GROUP BY partkey
    ), ranked AS (
        SELECT partkey, CAST(net_cents AS BIGINT) AS net_cents,
               row_number() OVER (ORDER BY net_cents DESC, partkey) AS rb,
               row_number() OVER (ORDER BY net_cents ASC, partkey) AS rw
        FROM np
    )
    SELECT CASE WHEN rb <= 5 THEN 'best' ELSE 'worst' END AS direction,
           CAST(CASE WHEN rb <= 5 THEN rb ELSE rw END AS BIGINT) AS rank,
           partkey, net_cents
    FROM ranked
    WHERE rb <= 5 OR rw <= 5
    ORDER BY direction, rank
    """,
)
def ds_best_worst_parts(spark, sf_dir):
    """DS q44 shape: the best 5 AND worst 5 items by net (returns-
    signed) revenue in one report, direction-labeled — q44 writes two
    ranked subqueries and a join; two row_number windows over ONE
    global ordering pass is equivalent (the second window reuses the
    sort, ascending). Full tie-breaks on partkey.

    Scale: the fact collapses to |parts| net-cents rows first
    (map-side-combinable signed sum); the two global windows run on
    the reduced frame — a single-partition sort of |parts| rows, which
    at 100 TB is the one deliberate single-reducer step (same as every
    global top-k) and bounded by |parts|, not facts.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    signed = F.when(F.col("l_returnflag") == "R", -rev_cents()).otherwise(rev_cents())
    np_ = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(signed).cast("bigint").alias("net_cents")
    )
    ranked = np_.select(
        "partkey",
        "net_cents",
        F.row_number().over(W.orderBy(F.desc("net_cents"), "partkey")).alias("rb"),
        F.row_number().over(W.orderBy(F.asc("net_cents"), "partkey")).alias("rw"),
    )
    return (
        ranked.filter((F.col("rb") <= 5) | (F.col("rw") <= 5))
        .select(
            F.when(F.col("rb") <= 5, "best").otherwise("worst").alias("direction"),
            F.when(F.col("rb") <= 5, F.col("rb")).otherwise(F.col("rw"))
            .cast("bigint")
            .alias("rank"),
            "partkey",
            "net_cents",
        )
        .orderBy("direction", "rank")
    )


@register(
    "ds_customer_return_ratio",
    tags=("tpcds-shape", "return-screen"),
    oracle=f"""
    WITH cy AS (
        SELECT o.o_custkey AS custkey, EXTRACT(year FROM o.o_orderdate) AS y,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS bought_cents,
               sum(CASE WHEN l.l_returnflag = 'R' THEN {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')} ELSE 0 END)
                   AS ret_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY custkey, y
    )
    SELECT CAST(y AS BIGINT) AS year,
           CAST(count(*) AS BIGINT) AS n_flagged,
           CAST(sum(ret_cents) AS BIGINT) AS flagged_ret_cents,
           CAST(sum(bought_cents) AS BIGINT) AS flagged_bought_cents
    FROM cy
    WHERE ret_cents * 2 > bought_cents
    GROUP BY year
    ORDER BY year
    """,
)
def ds_customer_return_ratio(spark, sf_dir):
    """DS q78 shape: customer-years where returned dollars exceed half
    of bought dollars (q78 computes the with/without-returns ratio per
    customer-item-year and screens on it), reported as a yearly census
    of flagged customers. Exact integer cents, exact ×2 screen.

    Scale: one fact pass (lineitem ⋈ orders on the co-partitioned
    orderkey) to (customer, year) conditional sums — map-side
    combinable; the screen and census run on the reduced frame. No
    separate returns table scan: the signed CASE splits the one scan.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    cy = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.year("o_orderdate").cast("bigint").alias("year"),
        )
        .agg(
            F.sum(rev_cents()).alias("bought_cents"),
            F.sum(F.when(F.col("l_returnflag") == "R", rev_cents()).otherwise(0)).alias(
                "ret_cents"
            ),
        )
    )
    return (
        cy.filter(F.col("ret_cents") * 2 > F.col("bought_cents"))
        .groupBy("year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
            F.sum("ret_cents").cast("bigint").alias("flagged_ret_cents"),
            F.sum("bought_cents").cast("bigint").alias("flagged_bought_cents"),
        )
        .orderBy("year")
    )
