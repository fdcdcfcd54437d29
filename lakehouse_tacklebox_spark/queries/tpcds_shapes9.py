"""TPC-DS query shapes, ninth wave: the CUBE grouping operator and the
correlated-scalar-subquery plan shape (reference: 30-performance/TPC-DS
Runner/notebooks/create_data_and_queries.scala:96-99).

- q67/q22 → ds_cube_matrix      (full CUBE over two dims with the
            grouping() bitmask — the one grouping operator the battery's
            rollup/grouping-sets entries didn't yet cover)
- q6/q9   → ds_above_global_avg (scalar-subquery compare: each row
            against 1.1× the GLOBAL average — the 1-row-broadcast
            BroadcastNestedLoopJoin plan TPC-H q22 also uses, expressed
            with an exact integer cross-multiplication)

Determinism contract as tpcds_shapes.py/2-8.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_cube_matrix",
    tags=("tpcds-shape", "cube"),
    oracle="""
    SELECT coalesce(c.c_mktsegment, 'ALL') AS segment,
           coalesce(o.o_orderpriority, 'ALL') AS priority,
           CAST(grouping(c.c_mktsegment) * 2 + grouping(o.o_orderpriority) AS BIGINT)
               AS lvl,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE(c.c_mktsegment, o.o_orderpriority)
    ORDER BY lvl, segment, priority
    """,
)
def ds_cube_matrix(spark, sf_dir):
    """Full CUBE over (segment, priority) with the grouping() bitmask —
    all four grouping sets (leaf, each one-dim subtotal, grand total)
    from one scan. Completes the grouping-operator surface next to the
    battery's ROLLUP and GROUPING SETS entries; DS q67 runs exactly
    this shape over its product hierarchy.

    Scale: CUBE compiles to a single Expand (4 replicas) + one
    map-side-combinable agg — rows × 4, never a per-set re-scan;
    customer broadcasts onto the orders scan.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    o_cents = cents("o_totalprice")
    joined = (
        t["orders"]
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_orderpriority", o_cents.alias("cents"))
    )
    cubed = joined.cube("c_mktsegment", "o_orderpriority").agg(
        (F.grouping("c_mktsegment") * 2 + F.grouping("o_orderpriority"))
        .cast("bigint")
        .alias("lvl"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    return (
        cubed.select(
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "lvl",
            "n_orders",
            "cents",
        )
        .orderBy("lvl", "segment", "priority")
    )


@register(
    "ds_above_global_avg",
    tags=("tpcds-shape", "scalar-subquery"),
    oracle="""
    WITH g AS (
        SELECT sum(CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)) AS t,
               count(*) AS n
        FROM orders
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey, g
    WHERE CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT) * g.n * 10
          > g.t * 11
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_above_global_avg(spark, sf_dir):
    """DS q6/q9 shape: rows compared against a GLOBAL scalar aggregate
    (orders priced above 1.1× the corpus-wide average), censused by
    segment. The battery's other above-average screens use per-group
    windows; this one exercises the scalar-subquery plan — a 1-row
    aggregate broadcast and nested-loop-joined onto the scan, exactly
    the plan TPC-H q22 uses for its balance cutoff. The compare is the
    exact integer cross-multiplication cents·n·10 > total·11.

    Scale: the 1-row global agg is a partial+final count/sum; its
    BroadcastNestedLoopJoin is against ONE row, so the "nested loop" is
    a constant-folded filter over the scan. Customer dim broadcasts.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    o_cents = cents("o_totalprice")
    g = t["orders"].agg(
        F.sum(o_cents).alias("t"), F.count(F.lit(1)).alias("n")
    )
    return (
        t["orders"]
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(g))
        .filter(o_cents * F.col("n") * 10 > F.col("t") * 11)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(o_cents).cast("bigint").alias("cents"),
        )
        .orderBy("segment")
    )
