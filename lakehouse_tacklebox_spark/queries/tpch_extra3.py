"""Final TPC-H shapes (q2/q11/q20) — the three that canonically need the
partsupp table, adapted to the testdata by using lineitem as the
part↔supplier relation:

- q2  (min-cost supplier): supplycost -> s_acctbal; "supplies the part"
  -> "has shipped the part"; the correlated MIN subquery is kept as its
  decorrelated form, a per-part rank-1 window.
- q11 (important stock): ps_supplycost*ps_availqty -> shipped revenue
  per part; the HAVING > fraction-of-total scalar subquery is kept, in
  exact decimal on both engines so the threshold cut is identical.
- q20 (excess stock): ps_availqty > 0.5*shipped-qty -> pair-share vs
  per-part average, kept in pure integer arithmetic (quantities are
  integral) so the comparison has no float boundary.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import cents, dmoney
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "q2_min_balance_supplier",
    tags=("join", "window", "subquery"),
    oracle="""
    WITH shipped AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), ranked AS (
        SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
               row_number() OVER (
                   PARTITION BY p_partkey ORDER BY s_acctbal, s_suppkey
               ) AS rnk
        FROM part
        JOIN shipped  ON l_partkey = p_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20 AND r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_name,
           CAST(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal, n_name
    FROM ranked WHERE rnk = 1
    ORDER BY s_acctbal, p_partkey
    """,
)
def q2_min_balance_supplier(spark, sf_dir):
    """q2 shape: cheapest qualifying supplier per part in one region.

    Scale: part predicates prune before anything else; the
    (part, supplier) relation is deduped BEFORE joining dims (distinct
    on two int keys — the only lineitem shuffle); supplier/nation/
    region broadcast; the correlated MIN becomes a rank-1 window that
    WindowGroupLimit evaluates map-side.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation", "region"])
    part = t["part"].filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_name")
    shipped = (
        t["lineitem"]
        .join(maybe_broadcast(part, "part"), F.col("p_partkey") == F.col("l_partkey"))
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
    )
    eur = t["region"].filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(eur), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = W.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        shipped.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("s_acctbal", 2).cast("double").alias("s_acctbal"),
            "n_name",
        )
        .orderBy("s_acctbal", "p_partkey")
    )


@register(
    "q11_important_part_value",
    tags=("agg", "subquery", "having"),
    oracle="""
    WITH pv AS (
        SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_2', 'NATION_8', 'NATION_9', 'NATION_21')
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(value AS DOUBLE) AS value
    FROM pv
    WHERE value > (SELECT sum(value) * 0.001 FROM pv)
    ORDER BY value DESC, partkey
    """,
)
def q11_important_part_value(spark, sf_dir):
    """q11 shape: parts whose nation-group shipped value exceeds a fraction
    of the nation's total — group-agg, a scalar total over the SAME
    aggregate, and a threshold cut.

    Scale: the nation filter broadcasts into the fact scan; the per-part
    agg is the one shuffle; the grand total is an agg OVER the per-part
    result (tiny) broadcast back — the fact table is read once. Both
    sides stay in exact decimal so the threshold picks identical rows.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    n2 = t["nation"].filter(
        F.col("n_name").isin("NATION_2", "NATION_8", "NATION_9", "NATION_21")
    ).select("n_nationkey")
    supp = t["supplier"].join(
        F.broadcast(n2), F.col("n_nationkey") == F.col("s_nationkey")
    ).select("s_suppkey")
    pv = (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dmoney("l_extendedprice")).alias("value"))
    )
    total = pv.agg((F.sum("value") * F.lit(0.001).cast("decimal(7,4)")).alias("threshold"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("partkey"), F.col("value").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "partkey")
    )


@register(
    "q20_excess_share_suppliers",
    tags=("join", "agg", "semi", "subquery"),
    oracle="""
    WITH pairs AS (
        SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS BIGINT)) AS sq
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    ), per_part AS (
        SELECT l_partkey AS pp, sum(sq) AS tot, count(*) AS nsupp
        FROM pairs GROUP BY l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM pairs
    JOIN per_part ON pp = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_2', 'NATION_8', 'NATION_9', 'NATION_21')
      AND sq * 2 * nsupp > tot
    ORDER BY s_name
    """,
)
def q20_excess_share_suppliers(spark, sf_dir):
    """q20 shape: suppliers holding an outsized share of a part class —
    per-pair aggregate, per-part rollup of that aggregate, threshold
    semi-join up to supplier names.

    Scale: the part-type and date predicates prune the fact scan; the
    (supplier, part) agg is the one full-width shuffle (with map-side
    combine); the per-part rollup is a window over the already-small
    pair table — one narrow reshuffle, no self-join, the fact scanned
    exactly once. The share test is pure integer arithmetic (quantities
    are integral → BIGINT), so no float boundary can disagree with the
    oracle.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    promo = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    pairs = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(maybe_broadcast(promo, "part"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sq"))
    )
    wp = W.partitionBy("l_partkey")
    n2 = t["nation"].filter(
        F.col("n_name").isin("NATION_2", "NATION_8", "NATION_9", "NATION_21")
    ).select("n_nationkey")
    supp = t["supplier"].join(
        F.broadcast(n2), F.col("n_nationkey") == F.col("s_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        pairs.withColumn("tot", F.sum("sq").over(wp))
        .withColumn("nsupp", F.count(F.lit(1)).over(wp))
        .filter(F.col("sq") * 2 * F.col("nsupp") > F.col("tot"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_name")
    )


@register(
    "ds_multi_count_buckets",
    tags=("tpcds-shape", "agg", "conditional"),
    bench=True,
    oracle="""
    SELECT
        CAST(count(CASE WHEN h >= 0  AND h < 3  THEN 1 END) AS BIGINT) AS h00_03,
        CAST(count(CASE WHEN h >= 3  AND h < 6  THEN 1 END) AS BIGINT) AS h03_06,
        CAST(count(CASE WHEN h >= 6  AND h < 9  THEN 1 END) AS BIGINT) AS h06_09,
        CAST(count(CASE WHEN h >= 9  AND h < 12 THEN 1 END) AS BIGINT) AS h09_12,
        CAST(count(CASE WHEN h >= 12 AND h < 15 THEN 1 END) AS BIGINT) AS h12_15,
        CAST(count(CASE WHEN h >= 15 AND h < 18 THEN 1 END) AS BIGINT) AS h15_18,
        CAST(count(CASE WHEN h >= 18 AND h < 21 THEN 1 END) AS BIGINT) AS h18_21,
        CAST(count(CASE WHEN h >= 21           THEN 1 END) AS BIGINT) AS h21_24
    FROM (SELECT extract(hour FROM ts) AS h FROM events WHERE event_type IN ('click', 'view'))
    """,
)
def ds_multi_count_buckets(spark, sf_dir):
    """TPC-DS q88 shape: eight conditional counts over disjoint hour
    buckets in ONE fact scan — the multi-CASE single-pass idiom that
    replaces eight subquery scans (TPC-DS spells it as 8 self-joined
    subqueries; a columnar engine should read the fact table once)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    h = F.hour("ts")
    base = ev.filter(F.col("event_type").isin("click", "view")).select(h.alias("h"))

    def bucket(lo, hi, name):
        cond = (F.col("h") >= lo) & (F.col("h") < hi) if hi is not None else (F.col("h") >= lo)
        return F.count(F.when(cond, 1)).alias(name)

    return base.agg(
        bucket(0, 3, "h00_03"),
        bucket(3, 6, "h03_06"),
        bucket(6, 9, "h06_09"),
        bucket(9, 12, "h09_12"),
        bucket(12, 15, "h12_15"),
        bucket(15, 18, "h15_18"),
        bucket(18, 21, "h18_21"),
        bucket(21, None, "h21_24"),
    )


@register(
    "ds_channel_rollup",
    tags=("tpcds-shape", "union", "rollup"),
    oracle="""
    WITH channels AS (
        SELECT 'orders' AS channel,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
               CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT) AS cents
        FROM orders
        UNION ALL
        SELECT 'events' AS channel,
               CAST(date_trunc('month', ts) AS DATE) AS period,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    )
    SELECT coalesce(channel, 'ALL') AS channel,
           coalesce(CAST(period AS VARCHAR), 'ALL') AS period,
           count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM channels
    GROUP BY ROLLUP (channel, period)
    """,
)
def ds_channel_rollup(spark, sf_dir):
    """TPC-DS q5 shape: two 'channels' (orders ledger + purchase events)
    unioned under a common schema, then a ROLLUP to (channel, period),
    per-channel, and grand totals in one aggregation. Money is integer
    cents end-to-end; the period is stringified so the rollup's NULL
    grouping slots coalesce identically on both engines."""
    t = load_tables(spark, sf_dir, ["orders", "events"])
    o = t["orders"].select(
        F.lit("orders").alias("channel"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("period"),
        cents("o_totalprice").alias("cents"),
    )
    e = t["events"].filter(F.col("event_type") == "purchase").select(
        F.lit("events").alias("channel"),
        F.date_trunc("month", "ts").cast("date").alias("period"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.unionByName(e)
        .rollup("channel", "period")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("total_cents"))
        .select(
            F.coalesce("channel", F.lit("ALL")).alias("channel"),
            F.coalesce(F.col("period").cast("string"), F.lit("ALL")).alias("period"),
            "n_rows",
            "total_cents",
        )
    )
