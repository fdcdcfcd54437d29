"""TPC-DS query shapes, seventeenth wave: multi-fact unions, profit
rollups, and EXISTS-family order screens (reference: 30-performance/
TPC-DS Runner/notebooks/create_data_and_queries.scala:96-99).

- q75/q78 → ds_channel_union_yoy (per-channel yearly brand revenue with
            the previous year lagged in by a window — the two-fact
            union-then-compare chassis)
- q77/q80 → ds_profit_rollup_channels (net-of-returns profit ROLLUP
            over channel × nation with grouping flags)
- q71/q46 → ds_hourly_type_share (hour-of-day activity share matrix
            per event type)
- q68/q79 → ds_bigticket_customer_split (customers split by big/small
            ticket mix, censused per segment)
- q61     → ds_promo_revenue_ratio (promo-part revenue share ppm per
            supplier nation — the two-branch ratio without a second
            fact scan)
- q95     → ds_multi_supplier_return_orders (orders with ≥2 distinct
            suppliers AND a returned line — the double-EXISTS screen
            as one distinct-count HAVING)

Determinism contract as tpcds_shapes.py/2-16.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import REV_CENTS_SQL, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_channel_union_yoy",
    tags=("tpcds-shape", "union", "yoy", "window"),
    oracle=f"""
    WITH y AS (
        SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'expedited' ELSE 'standard' END AS channel,
               p.p_brand AS brand,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')})
                   AS rev_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY channel, brand, yr
    ), lagged AS (
        SELECT channel, brand, yr, rev_cents,
               lag(rev_cents) OVER (PARTITION BY channel, brand ORDER BY yr)
                   AS prev_cents
        FROM y
    )
    SELECT channel, brand, yr,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CAST(floor(CAST(rev_cents AS DOUBLE) * 1000000.0 / prev_cents) AS BIGINT)
               AS yoy_ppm
    FROM lagged
    WHERE prev_cents IS NOT NULL AND prev_cents > 0
    ORDER BY channel, brand, yr
    """,
)
def ds_channel_union_yoy(spark, sf_dir):
    """DS q75/q78 shape: per-channel yearly brand revenue with the
    prior year's figure lagged in and a YoY ppm ratio. The DS original
    unions three sales channels; the driver schema has one fact, so the
    channel axis is the priority class (expedited vs standard) — the
    chassis (union grain → year window → ratio) is identical, and the
    ratio only emits where a prior year exists.

    Scale: one fact⋈orders⋈part pass into a (channel, brand, year)
    aggregate (~2·|brands|·|years| rows); the lag window runs over that
    tiny frame, never the fact.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "part"])
    channel = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedited"
    ).otherwise("standard")
    y = (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_orderpriority", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(t["part"].select("p_partkey", "p_brand"), "part"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            channel.alias("channel"),
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(F.sum(rev_cents()).alias("rev_cents"))
    )
    w = W.partitionBy("channel", "brand").orderBy("yr")
    lagged = y.withColumn("prev_cents", F.lag("rev_cents").over(w))
    return (
        lagged.filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") > 0))
        .select(
            "channel",
            "brand",
            "yr",
            F.col("rev_cents").cast("bigint").alias("rev_cents"),
            F.col("prev_cents").cast("bigint").alias("prev_cents"),
            ppm("rev_cents", "prev_cents").alias("yoy_ppm"),
        )
        .orderBy("channel", "brand", "yr")
    )


@register(
    "ds_profit_rollup_channels",
    tags=("tpcds-shape", "rollup", "net-returns"),
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'expedited' ELSE 'standard' END AS channel,
               n.n_name AS nation,
               {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')} AS rev,
               CASE WHEN l.l_returnflag = 'R'
                    THEN {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}
                    ELSE 0 END AS ret
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT coalesce(channel, 'ALL') AS channel,
           coalesce(nation, 'ALL') AS nation,
           CAST(grouping(channel) * 2 + grouping(nation) AS BIGINT) AS gflag,
           CAST(sum(rev) AS BIGINT) AS gross_cents,
           CAST(sum(ret) AS BIGINT) AS returned_cents,
           CAST(sum(rev) - sum(ret) AS BIGINT) AS net_cents
    FROM base
    GROUP BY ROLLUP (channel, nation)
    ORDER BY gflag, channel, nation
    """,
)
def ds_profit_rollup_channels(spark, sf_dir):
    """DS q77/q80 shape: net-of-returns profit report ROLLUPed over
    channel × supplier nation, with the grouping flag exposing the
    subtotal level (0 = cell, 1 = per-channel, 3 = grand total). The DS
    original unions per-channel sales-minus-returns branches; here the
    returned mass is a conditional sum in the SAME pass — one fact
    scan, no union, same numbers.

    Scale: one fact⋈orders shuffle; supplier/nation broadcast
    (bounded dims); the Expand for rollup multiplies only the
    |channels × nations| aggregate, not the fact.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "supplier", "nation"])
    channel = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedited"
    ).otherwise("standard")
    rev = rev_cents()
    ret = F.when(F.col("l_returnflag") == "R", rev_cents()).otherwise(F.lit(0))
    base = (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(t["supplier"].select("s_suppkey", "s_nationkey"), "supplier"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(maybe_broadcast(t["nation"], "nation"),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(channel.alias("channel"), F.col("n_name").alias("nation"),
                rev.alias("rev"), ret.alias("ret"))
    )
    g = base.rollup("channel", "nation").agg(
        F.sum("rev").alias("gross"),
        F.sum("ret").alias("returned"),
        (F.grouping("channel") * 2 + F.grouping("nation")).cast("bigint").alias("gflag"),
    )
    return (
        g.select(
            F.coalesce(F.col("channel"), F.lit("ALL")).alias("channel"),
            F.coalesce(F.col("nation"), F.lit("ALL")).alias("nation"),
            "gflag",
            F.col("gross").cast("bigint").alias("gross_cents"),
            F.col("returned").cast("bigint").alias("returned_cents"),
            (F.col("gross") - F.col("returned")).cast("bigint").alias("net_cents"),
        )
        .orderBy("gflag", "channel", "nation")
    )


@register(
    "ds_hourly_type_share",
    tags=("tpcds-shape", "calendar", "share"),
    oracle="""
    WITH h AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
        FROM events GROUP BY event_type, hr
    ), tot AS (
        SELECT hr, sum(n) AS n_hr FROM h GROUP BY hr
    )
    SELECT h.event_type, h.hr,
           CAST(h.n AS BIGINT) AS n_events,
           CAST(t.n_hr AS BIGINT) AS n_hour_total,
           CAST(floor(CAST(h.n AS DOUBLE) * 1000000.0 / t.n_hr) AS BIGINT)
               AS share_ppm
    FROM h JOIN tot t ON h.hr = t.hr
    ORDER BY h.hr, h.event_type
    """,
)
def ds_hourly_type_share(spark, sf_dir):
    """DS q71/q46 shape: hour-of-day activity matrix — each event
    type's share of every hour's traffic (the 'which channel owns the
    morning' report). Share denominators come from re-aggregating the
    SAME (type, hour) frame, so the fact is scanned once.

    Scale: one shuffle to |types × 24| cells; the share join is
    cell-frame × 24-row — broadcast trivially, never touching the
    fact again.
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    h = ev.groupBy("event_type", F.hour("ts").cast("bigint").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = h.groupBy("hr").agg(F.sum("n").alias("n_hr"))
    return (
        h.join(tot, "hr")
        .select(
            "event_type",
            "hr",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("n_hr").cast("bigint").alias("n_hour_total"),
            ppm("n", "n_hr").alias("share_ppm"),
        )
        .orderBy("hr", "event_type")
    )


@register(
    "ds_bigticket_customer_split",
    tags=("tpcds-shape", "having", "census"),
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0 END) AS n_big,
               sum(CASE WHEN o_totalprice <  250000 THEN 1 ELSE 0 END) AS n_small
        FROM orders
        GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_mixed_customers,
           CAST(sum(p.n_big) AS BIGINT) AS n_big_orders,
           CAST(sum(p.n_small) AS BIGINT) AS n_small_orders
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    WHERE p.n_big >= 1 AND p.n_small >= 1
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_bigticket_customer_split(spark, sf_dir):
    """DS q68/q79 shape: customers who place BOTH big-ticket (≥ 250k)
    and small-ticket orders — the two-sided HAVING over one per-customer
    aggregate — censused per segment. The DS original splits store
    tickets by household attributes; the chassis (per-entity conditional
    counts → both-sides filter → dim census) is the same.

    Scale: one orders shuffle on custkey with conditional-sum partials;
    the surviving per-customer frame joins customer un-hinted
    (maybe_broadcast policy).
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("o_totalprice") >= 250000, 1).otherwise(0)).alias("n_big"),
            F.sum(F.when(F.col("o_totalprice") < 250000, 1).otherwise(0)).alias("n_small"),
        )
        .filter((F.col("n_big") >= 1) & (F.col("n_small") >= 1))
    )
    return (
        per_cust.join(
            maybe_broadcast(t["customer"].select("c_custkey", "c_mktsegment"), "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_mixed_customers"),
            F.sum("n_big").cast("bigint").alias("n_big_orders"),
            F.sum("n_small").cast("bigint").alias("n_small_orders"),
        )
        .orderBy("segment")
    )


@register(
    "ds_promo_revenue_ratio",
    tags=("tpcds-shape", "ratio", "join"),
    oracle=f"""
    WITH base AS (
        SELECT n.n_name AS nation,
               CASE WHEN p.p_type = 'PROMO'
                    THEN {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}
                    ELSE 0 END AS promo,
               {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')} AS rev
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT nation,
           CAST(sum(promo) AS BIGINT) AS promo_cents,
           CAST(sum(rev) AS BIGINT) AS total_cents,
           CAST(floor(CAST(sum(promo) AS DOUBLE) * 1000000.0 / sum(rev)) AS BIGINT)
               AS promo_ppm
    FROM base
    GROUP BY nation
    ORDER BY nation
    """,
)
def ds_promo_revenue_ratio(spark, sf_dir):
    """DS q61 shape: promotional revenue share — the ratio of
    promo-part revenue to ALL revenue per supplier nation. q61 computes
    the two branches as separate subqueries then divides; here the
    numerator is a conditional sum in the same pass (one fact scan,
    identical ratio), emitted as floored ppm.

    Scale: fact⋈part un-hinted (SF-growing dim, maybe_broadcast
    policy), supplier/nation broadcast; |nations| output rows.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    rev = rev_cents()
    promo = F.when(F.col("p_type") == "PROMO", rev_cents()).otherwise(F.lit(0))
    base = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"].select("p_partkey", "p_type"), "part"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(maybe_broadcast(t["supplier"].select("s_suppkey", "s_nationkey"), "supplier"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(maybe_broadcast(t["nation"], "nation"),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), promo.alias("promo"), rev.alias("rev"))
    )
    return (
        base.groupBy("nation")
        .agg(
            F.sum("promo").cast("bigint").alias("promo_cents"),
            F.sum("rev").cast("bigint").alias("total_cents"),
            ppm(F.sum("promo"), F.sum("rev")).alias("promo_ppm"),
        )
        .orderBy("nation")
    )


@register(
    "ds_multi_supplier_return_orders",
    tags=("tpcds-shape", "exists", "having"),
    oracle=f"""
    WITH per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_ret,
               sum({REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')}) AS rev
        FROM lineitem
        GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(p.rev) AS BIGINT) AS rev_cents
    FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
    WHERE p.n_supp >= 2 AND p.n_ret >= 1
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def ds_multi_supplier_return_orders(spark, sf_dir):
    """DS q95 shape: the double-EXISTS order screen — orders shipped by
    ≥2 distinct suppliers that ALSO contain a returned line. q95's two
    correlated EXISTS subqueries over the same fact collapse into one
    per-order aggregate with a distinct-count + conditional-count
    HAVING (one fact scan instead of three).

    Scale: one shuffle on l_orderkey; the surviving order keys join
    orders on the SAME key (no second shuffle of the fact); output is
    |priorities| rows.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    per_order = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_ret"),
            F.sum(rev_cents()).alias("rev"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_ret") >= 1))
    )
    return (
        per_order.join(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("rev").cast("bigint").alias("rev_cents"),
        )
        .orderBy("o_orderpriority")
    )
