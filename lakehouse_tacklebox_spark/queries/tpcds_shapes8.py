"""TPC-DS query shapes, eighth wave: SQL-surface diversity — RANK-with-
ties top-k, grouping() bitmask rollups, and FILTERed distinct-count
matrices from the reference's 99-query battery (reference:
30-performance/TPC-DS Runner/notebooks/create_data_and_queries.scala:96-99).

Shapes in this wave (DS query each models):
- q15      → ds_rank_ties_topk       (RANK keeps ties — distinct from the
             row_number top-k entries, which break them)
- q27/q36  → ds_grouping_flag_rollup (ROLLUP with the grouping() bitmask
             as an explicit level column)
- q35      → ds_filtered_distinct_matrix (count(DISTINCT) FILTER columns
             — multiple conditional distincts from one scan)

Determinism contract (same as tpcds_shapes.py/2-7): exact integer cents;
the RANK output is deterministic WITHOUT a tie-break because rank() ties
share a rank value and the row set "rank ≤ k" is therefore order-
independent; output ordering carries full tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import REV_CENTS_SQL, cents, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_rank_ties_topk",
    tags=("tpcds-shape", "rank-ties"),
    oracle=f"""
    WITH sr AS (
        SELECT r.r_name AS region, l.l_suppkey AS suppkey,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY region, suppkey
    )
    SELECT region, suppkey, CAST(cents AS BIGINT) AS cents,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, rank() OVER (PARTITION BY region ORDER BY cents DESC) AS rnk
          FROM sr)
    WHERE rnk <= 3
    ORDER BY region, rnk, suppkey
    """,
)
def ds_rank_ties_topk(spark, sf_dir):
    """DS q15 shape: top-3 revenue suppliers per region with RANK — ties
    SHARE a rank and every tied supplier is kept (TPC-H q15 famously
    requires exactly this: the max-revenue supplier set, not an
    arbitrary one of them). The result set is deterministic without a
    tie-break column because rank ≤ k is order-independent under ties;
    the row_number entries elsewhere in the battery cover the
    break-the-tie variant.

    Scale: fact aggregates to (region, supplier) cents — one suppkey-
    keyed shuffle with partial aggs; the rank window partitions the
    reduced frame by 5 regions. RANK disables WindowGroupLimit's exact
    pruning in some Spark versions, but the windowed frame is
    |suppliers|-bounded, not fact-bounded, so the sort is trivial at
    any scale.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation", "region"])
    sr = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(rev_cents()).cast("bigint").alias("cents"))
    )
    rnk = F.rank().over(W.partitionBy("region").orderBy(F.desc("cents")))
    return (
        sr.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .orderBy("region", "rnk", "suppkey")
    )


@register(
    "ds_grouping_flag_rollup",
    tags=("tpcds-shape", "rollup", "grouping-flag"),
    oracle="""
    SELECT coalesce(CAST(n.n_name AS VARCHAR), 'ALL') AS nation,
           coalesce(c.c_mktsegment, 'ALL') AS segment,
           CAST(grouping(n.n_name) * 2 + grouping(c.c_mktsegment) AS BIGINT) AS lvl,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP(n.n_name, c.c_mktsegment)
    ORDER BY lvl, nation, segment
    """,
)
def ds_grouping_flag_rollup(spark, sf_dir):
    """DS q27/q36 shape: a two-level ROLLUP carrying the grouping()
    BITMASK as an explicit level column (0 = leaf, 1 = nation subtotal,
    3 = grand total) — q27 and q36 both emit `lochierarchy` exactly this
    way so consumers can filter/rank within a rollup level. The other
    rollup entries coalesce labels only; this one proves bitmask parity.

    Scale: one orders scan; ROLLUP compiles to a single Expand + agg
    (rows × 3 grouping sets, map-side partial), dims broadcast — no
    per-level re-scan, which is how the pre-rollup SQL dialects write
    it (a UNION of three GROUP BYs).
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    o_cents = cents("o_totalprice")
    joined = (
        t["orders"]
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name"), F.col("c_mktsegment"), o_cents.alias("cents"))
    )
    # grouping() is only resolvable INSIDE the rollup aggregate list
    rolled = joined.rollup("n_name", "c_mktsegment").agg(
        (F.grouping("n_name") * 2 + F.grouping("c_mktsegment"))
        .cast("bigint")
        .alias("lvl"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    return (
        rolled.select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "lvl",
            "n_orders",
            "cents",
        )
        .orderBy("lvl", "nation", "segment")
    )


@register(
    "ds_filtered_distinct_matrix",
    tags=("tpcds-shape", "filtered-distinct"),
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS all_customers,
           CAST(count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F')
                AS BIGINT) AS finished_customers,
           CAST(count(DISTINCT o_custkey) FILTER (WHERE o_totalprice >= 200000)
                AS BIGINT) AS big_spenders
    FROM orders
    GROUP BY priority
    ORDER BY priority
    """,
)
def ds_filtered_distinct_matrix(spark, sf_dir):
    """DS q35 shape: several CONDITIONAL distinct counts of the same key
    from one scan — distinct customers overall, among finished orders,
    and among big-ticket orders, per channel. SQL's FILTER clause maps
    to count_distinct over a when(cond, key) column (NULLs are ignored
    by count_distinct, which IS the FILTER semantics).

    Scale: one orders scan; Spark plans multi-distinct aggregates with
    an Expand (one replica per distinct predicate) + two-level agg —
    partial distinct map-side, no self-joins and no repeated scans
    (the pre-FILTER dialect writes three correlated subqueries).
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("all_customers"),
            F.count_distinct(
                F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("finished_customers"),
            F.count_distinct(
                F.when(F.col("o_totalprice") >= 200000, F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("big_spenders"),
        )
        .orderBy("priority")
    )
