"""TPC-DS query shapes, eighteenth wave: cumulative crossovers, rollup
ranks, deviation reports, and activity-transition censuses (reference:
30-performance/TPC-DS Runner/notebooks/create_data_and_queries.scala:96-99).
With waves 16-17 this closes the uncovered members of the reference's
99-query map: every remaining archetype is a re-combination of these
chassis on the driver star schema.

- q51     → ds_cumulative_priority_crossover (two running cumulative
            series compared month by month — the web-vs-store
            crossover report)
- q36/q86 → ds_rollup_level_share_rank (rank WITHIN each rollup
            grouping level — the lochierarchy window over Expand
            output)
- q63/q52 → ds_brand_month_deviation (months deviating >10% from the
            brand's average month, exact cross-multiplied compare)
- q20     → ds_type_share_in_category (revenue share of each p_type
            within its category over a ship window)
- q91     → ds_monthly_error_trend (month-over-month error-event
            delta with sign classes)
- q69/q76 → ds_lapsed_customer_census (active-then-silent customers —
            semi ∧ anti on adjacent windows, censused per nation ×
            segment)

Determinism contract as tpcds_shapes.py/2-17.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_cumulative_priority_crossover",
    tags=("tpcds-shape", "window", "cumulative"),
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS month_idx,
               sum(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
                        ELSE 0 END) AS urgent_cents,
               sum(CASE WHEN o_orderpriority = '5-LOW'
                        THEN CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
                        ELSE 0 END) AS low_cents
        FROM orders
        GROUP BY month_idx
    )
    SELECT month_idx,
           CAST(sum(urgent_cents) OVER (ORDER BY month_idx) AS BIGINT) AS cum_urgent,
           CAST(sum(low_cents) OVER (ORDER BY month_idx) AS BIGINT) AS cum_low,
           CAST(CASE WHEN sum(urgent_cents) OVER (ORDER BY month_idx)
                          > sum(low_cents) OVER (ORDER BY month_idx)
                     THEN 1 ELSE 0 END AS BIGINT) AS urgent_leads
    FROM monthly
    ORDER BY month_idx
    """,
)
def ds_cumulative_priority_crossover(spark, sf_dir):
    """DS q51 shape: two running cumulative revenue series (URGENT vs
    LOW priority standing in for web vs store) compared month by month,
    with a leader flag whose flips mark the crossover months. Both
    series come from conditional sums over ONE monthly aggregate, then
    ONE ordered window over the |months| frame.

    Scale: the fact reduces to |months| rows before any window; the
    unpartitioned cumulative window runs on that tiny frame (the
    SinglePartition exchange moves ~80 rows, not the fact).
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    o_cents = cents("o_totalprice")
    monthly = o.groupBy(month_idx.alias("month_idx")).agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", o_cents).otherwise(0)).alias(
            "urgent_cents"
        ),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", o_cents).otherwise(0)).alias(
            "low_cents"
        ),
    )
    w = W.orderBy("month_idx").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum_u = F.sum("urgent_cents").over(w)
    cum_l = F.sum("low_cents").over(w)
    return (
        monthly.select(
            "month_idx",
            cum_u.cast("bigint").alias("cum_urgent"),
            cum_l.cast("bigint").alias("cum_low"),
            F.when(cum_u > cum_l, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("urgent_leads"),
        )
        .orderBy("month_idx")
    )


@register(
    "ds_rollup_level_share_rank",
    tags=("tpcds-shape", "rollup", "window"),
    oracle=f"""
    WITH g AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               grouping(n.n_name) * 2 + grouping(c.c_mktsegment) AS gflag,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    )
    SELECT coalesce(nation, 'ALL') AS nation,
           coalesce(segment, 'ALL') AS segment,
           CAST(gflag AS BIGINT) AS gflag,
           CAST(cents AS BIGINT) AS cents,
           CAST(rank() OVER (PARTITION BY gflag, nation
                             ORDER BY cents DESC, segment NULLS FIRST) AS BIGINT)
               AS lvl_rank
    FROM g
    ORDER BY gflag, nation, lvl_rank, segment
    """,
)
def ds_rollup_level_share_rank(spark, sf_dir):
    """DS q36/q86 shape: rank WITHIN each rollup grouping level (the
    lochierarchy rank) — segments ranked inside their nation, nations
    ranked inside the per-nation subtotal level, one grand-total row.
    The window partitions on the grouping flag so each level ranks
    among its peers only, exactly q36's
    rank() over (partition by lochierarchy ...).

    Scale: the rank window runs over the Expand OUTPUT
    (|nations|·|segments| + |nations| + 1 rows), never fact rows —
    same contract as ds_rollup_level_rank, plus the level-partitioned
    rank.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    g = (
        t["orders"]
        .join(
            maybe_broadcast(t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment"), "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(maybe_broadcast(t["nation"], "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"),
                cents("o_totalprice").alias("cents"))
        .rollup("nation", "segment")
        .agg(
            F.sum("cents").alias("cents"),
            (F.grouping("nation") * 2 + F.grouping("segment")).cast("bigint").alias("gflag"),
        )
    )
    w = (
        W.partitionBy("gflag", "nation")
        .orderBy(F.col("cents").desc(), F.col("segment").asc_nulls_first())
    )
    return (
        g.select(
            F.coalesce(F.col("nation"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("segment"), F.lit("ALL")).alias("segment"),
            "gflag",
            F.col("cents").cast("bigint").alias("cents"),
            F.rank().over(w).cast("bigint").alias("lvl_rank"),
        )
        .orderBy("gflag", "nation", "lvl_rank", "segment")
    )


@register(
    "ds_brand_month_deviation",
    tags=("tpcds-shape", "window", "deviation"),
    oracle=f"""
    WITH m AS (
        SELECT p.p_brand AS brand,
               CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT)
                   AS month_idx,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')})
                   AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand, month_idx
    ), s AS (
        SELECT brand, month_idx, cents,
               count(*) OVER (PARTITION BY brand) AS n_months,
               sum(cents) OVER (PARTITION BY brand) AS total_cents
        FROM m
    )
    SELECT brand, month_idx,
           CAST(cents AS BIGINT) AS cents,
           CAST(CASE WHEN cents * n_months * 10 > total_cents * 11 THEN 1 ELSE -1 END
                AS BIGINT) AS dev_sign
    FROM s
    WHERE cents * n_months * 10 > total_cents * 11
       OR cents * n_months * 10 < total_cents * 9
    ORDER BY brand, month_idx
    """,
)
def ds_brand_month_deviation(spark, sf_dir):
    """DS q63/q52 shape: months where a brand's revenue deviates more
    than ±10% from that brand's average month. The avg-month compare is
    the exact integer cross-multiplication cents·n·10 vs total·11 (and
    ·9) — no mean division, so the report set is bit-identical across
    engines.

    Scale: fact⋈part into a (brand, month) aggregate; the count/total
    windows run over that |brands × months| frame; the deviation filter
    emits only outliers.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    month_idx = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("bigint")
    m = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"].select("p_partkey", "p_brand"), "part"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), month_idx.alias("month_idx"))
        .agg(F.sum(rev_cents()).alias("cents"))
    )
    w = W.partitionBy("brand")
    s = m.select(
        "brand",
        "month_idx",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_months"),
        F.sum("cents").over(w).alias("total_cents"),
    )
    hi = F.col("cents") * F.col("n_months") * 10 > F.col("total_cents") * 11
    lo = F.col("cents") * F.col("n_months") * 10 < F.col("total_cents") * 9
    return (
        s.filter(hi | lo)
        .select(
            "brand",
            "month_idx",
            F.col("cents").cast("bigint").alias("cents"),
            F.when(hi, F.lit(1)).otherwise(F.lit(-1)).cast("bigint").alias("dev_sign"),
        )
        .orderBy("brand", "month_idx")
    )


@register(
    "ds_type_share_in_category",
    tags=("tpcds-shape", "window", "share"),
    oracle=f"""
    WITH t AS (
        SELECT p.p_type AS ptype, p.p_brand AS brand,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')})
                   AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-07-01'
        GROUP BY ptype, brand
    )
    SELECT ptype, brand,
           CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0
                      / sum(cents) OVER (PARTITION BY ptype)) AS BIGINT)
               AS share_ppm
    FROM t
    ORDER BY ptype, brand
    """,
)
def ds_type_share_in_category(spark, sf_dir):
    """DS q20 shape: each brand's revenue share WITHIN its type over a
    6-month ship window (q20's class-share-of-category with
    itemrevenue/sum-over-class). The share denominator is a window over
    the (type, brand) aggregate — the fact is never re-scanned for
    totals.

    Scale: windowed fact slice ⋈ part (un-hinted, SF-growing dim),
    aggregate to |types × brands|, one partitioned window over that
    frame.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    agg = (
        li.join(maybe_broadcast(t["part"].select("p_partkey", "p_type", "p_brand"), "part"),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("ptype"), F.col("p_brand").alias("brand"))
        .agg(F.sum(rev_cents()).alias("cents"))
    )
    share = ppm("cents", F.sum("cents").over(W.partitionBy("ptype")))
    return (
        agg.select(
            "ptype",
            "brand",
            F.col("cents").cast("bigint").alias("cents"),
            share.alias("share_ppm"),
        )
        .orderBy("ptype", "brand")
    )


@register(
    "ds_monthly_error_trend",
    tags=("tpcds-shape", "calendar", "trend"),
    oracle="""
    WITH m AS (
        SELECT CAST(floor(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7.0)
                    AS BIGINT) AS week_idx,
               count(*) AS n
        FROM events WHERE event_type = 'error'
        GROUP BY week_idx
    ), lagged AS (
        SELECT week_idx, n,
               lag(n) OVER (ORDER BY week_idx) AS prev_n
        FROM m
    )
    SELECT week_idx,
           CAST(year(DATE '1970-01-01' + INTERVAL (week_idx * 7) DAY) * 12
                + month(DATE '1970-01-01' + INTERVAL (week_idx * 7) DAY) AS BIGINT)
               AS month_idx,
           CAST(n AS BIGINT) AS n_errors,
           CAST(prev_n AS BIGINT) AS prev_errors,
           CAST(CASE WHEN n > prev_n THEN 1 WHEN n < prev_n THEN -1 ELSE 0 END
                AS BIGINT) AS trend
    FROM lagged
    WHERE prev_n IS NOT NULL
    ORDER BY week_idx
    """,
)
def ds_monthly_error_trend(spark, sf_dir):
    """DS q91 shape: the error/complaint trend report — weekly error
    counts with the previous period lagged in and a -1/0/+1 trend
    class. Weeks index as floor(epoch-days / 7) and the month label is
    derived from the WEEK START (grouping by (month, week) would split
    a month-straddling week into two rows with the same week_idx and
    make the lag order ambiguous; engine-neutral integer calendar as
    ds_weekday_priority_matrix).

    Scale: the filtered fact reduces to |weeks| rows before the ordered
    window; the SinglePartition exchange moves that tiny frame only.
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    week_idx = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
    ).cast("bigint")
    m = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(week_idx.alias("week_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    week_start = F.date_add(F.lit("1970-01-01").cast("date"), (F.col("week_idx") * 7).cast("int"))
    m = m.withColumn(
        "month_idx", (F.year(week_start) * 12 + F.month(week_start)).cast("bigint")
    )
    lagged = m.withColumn("prev_n", F.lag("n").over(W.orderBy("week_idx")))
    trend = (
        F.when(F.col("n") > F.col("prev_n"), 1)
        .when(F.col("n") < F.col("prev_n"), -1)
        .otherwise(0)
    )
    return (
        lagged.filter(F.col("prev_n").isNotNull())
        .select(
            "week_idx",
            "month_idx",
            F.col("n").cast("bigint").alias("n_errors"),
            F.col("prev_n").cast("bigint").alias("prev_errors"),
            trend.cast("bigint").alias("trend"),
        )
        .orderBy("week_idx")
    )


@register(
    "ds_lapsed_customer_census",
    tags=("tpcds-shape", "semi-anti", "census"),
    oracle="""
    WITH h1 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
    ), h2 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
    )
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_lapsed
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey IN (SELECT o_custkey FROM h1)
      AND c.c_custkey NOT IN (SELECT o_custkey FROM h2)
    GROUP BY nation, segment
    ORDER BY nation, segment
    """,
)
def ds_lapsed_customer_census(spark, sf_dir):
    """DS q69/q76 shape: the active-then-silent census — customers who
    ordered in 1996-H1 but NOT in 1996-H2, counted per nation ×
    segment. The IN/NOT-IN pair compiles to a left-semi ∧ left-anti
    join chain on the customer key (q69's EXISTS/NOT EXISTS
    demographic screen).

    Scale: both half-year key sets are distinct projections of a
    pruned orders scan; the semi and anti joins hash on the same
    custkey, and the census aggregates to |nations × segments|.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    h1 = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    h2 = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    lapsed = (
        t["customer"]
        .join(h1, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .join(h2, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(maybe_broadcast(t["nation"], "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        lapsed.groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lapsed"))
        .orderBy("nation", "segment")
    )
