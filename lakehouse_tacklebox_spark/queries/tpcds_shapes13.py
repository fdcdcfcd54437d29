"""TPC-DS query shapes, thirteenth wave: top-k-plus-OTHERS reporting,
correlated EXISTS with an aggregate HAVING, and leave-one-out averages
(reference: 30-performance/TPC-DS Runner/notebooks/
create_data_and_queries.scala:96-99).

- q3/q42 → ds_topk_with_others   (top-5 brands by revenue, every other
           brand folded into one 'OTHERS' row — rank then RE-aggregate,
           the reporting staple no other battery entry exercises)
- q10/q35 → ds_exists_having_combo (customers with >2 urgent orders AND
           at least one returned line — two different fact probes, one
           with an aggregate HAVING, composed as semi-joins)
- q58     → ds_leave_one_out_avg (each brand vs the average of all
           OTHER brands — the self-excluding compare, exact integer
           cross-multiplication of (total-own) and (n-1))

Determinism contract as tpcds_shapes.py/2-12.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import REV_CENTS_SQL, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_topk_with_others",
    tags=("tpcds-shape", "topk", "reaggregate"),
    oracle=f"""
    WITH brand_rev AS (
        SELECT p.p_brand AS brand, sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand
    ), ranked AS (
        SELECT brand, cents, n_lines,
               row_number() OVER (ORDER BY cents DESC, brand) AS rk
        FROM brand_rev
    )
    SELECT CASE WHEN rk <= 5 THEN brand ELSE 'OTHERS' END AS brand_group,
           CAST(min(CASE WHEN rk <= 5 THEN rk ELSE 6 END) AS BIGINT) AS rank_slot,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(sum(n_lines) AS BIGINT) AS n_lines
    FROM ranked
    GROUP BY brand_group
    ORDER BY rank_slot, brand_group
    """,
)
def ds_topk_with_others(spark, sf_dir):
    """DS q3/q42 shape: the top-5 brands by revenue each get their own
    report row and every remaining brand folds into one 'OTHERS' row —
    rank, then RE-aggregate on the rank-derived group. The second
    aggregation over a window result is the pattern; a plain top-k
    LIMIT would silently drop the tail the report must keep.

    Scale: the fact collapses to |brands| rows first (part broadcast);
    the rank window and both aggregations run on that dim-bounded
    frame. Full tie-break (cents DESC, brand) keeps the cut
    deterministic.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    brand_rev = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(rev_cents()).alias("cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    ranked = brand_rev.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("cents").desc(), "brand"))
    )
    return (
        ranked.select(
            F.when(F.col("rk") <= 5, F.col("brand")).otherwise(F.lit("OTHERS")).alias("brand_group"),
            F.when(F.col("rk") <= 5, F.col("rk")).otherwise(F.lit(6)).alias("slot"),
            "cents",
            "n_lines",
        )
        .groupBy("brand_group")
        .agg(
            F.min("slot").cast("bigint").alias("rank_slot"),
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
        )
        .orderBy("rank_slot", "brand_group")
    )


@register(
    "ds_exists_having_combo",
    tags=("tpcds-shape", "semi-join", "having"),
    oracle="""
    WITH urgent AS (
        SELECT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_custkey HAVING count(*) > 2
    ), returned AS (
        SELECT DISTINCT o.o_custkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE c.c_custkey IN (SELECT o_custkey FROM urgent)
      AND c.c_custkey IN (SELECT o_custkey FROM returned)
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_exists_having_combo(spark, sf_dir):
    """DS q10/q35 shape: two correlated EXISTS probes composed — the
    customer must clear an aggregate HAVING on one fact path (>2 urgent
    orders) AND a plain existence test on another (any returned line).
    Decorrelated into two key-set semi-joins; the HAVING becomes a
    filter on the per-customer aggregate, not a correlated subquery per
    row.

    Scale: each probe reduces its fact path to a customer key set
    (map-side combined; the returned-line probe pre-joins to orders on
    the one big shuffle); the two semi-joins then run on
    |customers|-bounded sets, AQE-broadcast at gate SF.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "lineitem"])
    urgent = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 2)
        .select("o_custkey")
    )
    returned = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey")
        .distinct()
    )
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == urgent["o_custkey"], "left_semi")
        .join(returned, F.col("c_custkey") == returned["o_custkey"], "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("segment")
    )


@register(
    "ds_leave_one_out_avg",
    tags=("tpcds-shape", "window", "stats"),
    oracle=f"""
    WITH brand_rev AS (
        SELECT p.p_brand AS brand, sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand
    ), tot AS (
        SELECT sum(cents) AS t, count(*) AS n FROM brand_rev
    )
    SELECT b.brand, CAST(b.cents AS BIGINT) AS cents,
           CAST(CASE WHEN b.cents * (t.n - 1)
                          > CAST(floor((t.t - b.cents) * 11 / 10) AS BIGINT)
                     THEN 1 ELSE 0 END AS BIGINT) AS beats_peers_by_10pct,
           CAST(floor(CAST(b.cents AS DOUBLE) * (t.n - 1) * 1000000.0
                      / (t.t - b.cents)) AS BIGINT) AS vs_peer_avg_ppm
    FROM brand_rev b, tot t
    ORDER BY b.brand
    """,
)
def ds_leave_one_out_avg(spark, sf_dir):
    """DS q58 shape: each brand compared against the average of all
    OTHER brands — the leave-one-out compare: own > 1.1 × (total−own)/
    (n−1), evaluated as the integer cross-multiplication own·(n−1) >
    (total−own)·11/10 so no average is ever divided out, plus the
    mirrored ppm ratio. The self-excluding baseline is how DS avoids a
    brand dominating its own benchmark.

    Scale: |brands| rows after one fact reduction; the 1-row total
    broadcasts (the q22 scalar-subquery plan).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    brand_rev = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(rev_cents()).alias("cents"))
    )
    tot = brand_rev.agg(F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n"))
    others = F.col("t") - F.col("cents")
    # both engines: own·(n−1) > floor((total−own)·11/10) — the integer
    # products stay ≤ ~1e14 so the double division is exact under 2^53
    beats = F.col("cents") * (F.col("n") - 1) > F.floor(others * 11 / 10)
    return (
        brand_rev.join(F.broadcast(tot))
        .select(
            "brand",
            F.col("cents").cast("bigint").alias("cents"),
            F.when(beats, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("beats_peers_by_10pct"),
            ppm(F.col("cents").cast("double") * (F.col("n") - 1), others).alias("vs_peer_avg_ppm"),
        )
        .orderBy("brand")
    )
