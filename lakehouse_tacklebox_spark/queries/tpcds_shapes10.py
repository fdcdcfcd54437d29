"""TPC-DS query shapes, tenth wave: the year-over-year weekly self-join,
the full-outer channel-overlap census, the RANGE-frame rolling window,
the aggregate-subquery semi-join, arg_min/arg_max first-last spans, and
a chained INTERSECT/EXCEPT set operation (reference:
30-performance/TPC-DS Runner/notebooks/create_data_and_queries.scala:96-99).

- q2   → ds_week_yoy_selfjoin    (weekly aggregate self-joined across
         consecutive years on week index — the classic "same week, next
         year" compare)
- q97  → ds_channel_overlap_census (full-outer join of two behavior
         aggregates: users who click vs purchase, both/only counts)
- q51/q57 → ds_rolling_range_window (RANGE-frame 30-day rolling revenue
         per segment — a frame type no other battery entry exercises;
         every other moving agg uses ROWS frames)
- q6/q23 → ds_brands_above_avg_semi (semi-join against an aggregate
         subquery: brands whose avg retail price beats the global avg,
         compared by exact integer cross-multiplication)
- q11/q74 → ds_first_last_span   (per customer-year first and last order
         price via arg_min/arg_max over a unique bigint order key)
- q8/q14 → ds_quarter_setop_chain (INTERSECT then EXCEPT over customer
         sets from different quarters/statuses — the chained set-op plan)

Determinism contract as tpcds_shapes.py/2-9: exact integer cents, every
computed column aliased identically in both engines, full tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_week_yoy_selfjoin",
    tags=("tpcds-shape", "self-join", "agg"),
    oracle=f"""
    WITH weekly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(floor((dayofyear(o_orderdate) - 1) / 7) AS BIGINT) AS wk,
               sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders GROUP BY yr, wk
    )
    SELECT a.yr AS yr, a.wk AS wk,
           CAST(a.cents AS BIGINT) AS cents_cur,
           CAST(b.cents AS BIGINT) AS cents_next,
           CAST(floor(CAST(b.cents AS DOUBLE) * 1000000.0 / a.cents) AS BIGINT)
               AS yoy_ppm
    FROM weekly a JOIN weekly b ON a.wk = b.wk AND b.yr = a.yr + 1
    ORDER BY yr, wk
    """,
)
def ds_week_yoy_selfjoin(spark, sf_dir):
    """DS q2 shape: one weekly aggregate, self-joined across consecutive
    years on the week index — "this week vs the same week next year".
    Week = floor((dayofyear-1)/7), deliberately calendar-agnostic so
    both engines bucket identically (ISO weeks straddle year bounds).

    Scale: the weekly aggregate is tiny (years × 53 rows) — the self
    join runs on the AGGREGATE, never on the fact; one orders scan, one
    map-side-combinable shuffle, then a broadcast-sized equi-join.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    weekly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.floor((F.dayofyear("o_orderdate") - 1) / 7).cast("bigint").alias("wk"),
    ).agg(F.sum(cents("o_totalprice")).alias("cents"))
    a, b = weekly.alias("a"), weekly.alias("b")
    return (
        a.join(
            b,
            (F.col("a.wk") == F.col("b.wk")) & (F.col("b.yr") == F.col("a.yr") + 1),
        )
        .select(
            F.col("a.yr").alias("yr"),
            F.col("a.wk").alias("wk"),
            F.col("a.cents").cast("bigint").alias("cents_cur"),
            F.col("b.cents").cast("bigint").alias("cents_next"),
            ppm(F.col("b.cents"), F.col("a.cents")).alias("yoy_ppm"),
        )
        .orderBy("yr", "wk")
    )


@register(
    "ds_channel_overlap_census",
    tags=("tpcds-shape", "full-outer", "agg"),
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST(sum(CASE WHEN c.user_id IS NOT NULL AND p.user_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click_only,
           CAST(sum(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchase_only
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)
def ds_channel_overlap_census(spark, sf_dir):
    """DS q97 shape: two behavior aggregates (users who click, users who
    purchase) FULL OUTER joined on the entity key, censused into
    both / left-only / right-only counts — the cross-channel overlap
    report.

    Scale: each side is a distinct-aggregate of a filtered scan
    (map-side combinable, pushdown on event_type); the full-outer join
    runs on |users|-sized sets, not events, and the final census is a
    1-row global agg.
    """
    e = load_tables(spark, sf_dir, ["events"])["events"]
    c = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"))
        .distinct()
    )
    j = c.join(p, c["user_id"] == p["p_user"], "full_outer")
    both = (F.col("user_id").isNotNull() & F.col("p_user").isNotNull()).cast("int")
    return j.agg(
        F.sum(both).cast("bigint").alias("n_both"),
        F.sum(F.col("p_user").isNull().cast("int")).cast("bigint").alias("n_click_only"),
        F.sum(F.col("user_id").isNull().cast("int")).cast("bigint").alias("n_purchase_only"),
    )


@register(
    "ds_rolling_range_window",
    tags=("tpcds-shape", "window", "range-frame"),
    bench=True,
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS segment,
               CAST(o.o_orderdate AS DATE) AS day,
               date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                   AS day_idx,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS day_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY segment, day, day_idx
    )
    SELECT segment, day,
           CAST(day_cents AS BIGINT) AS day_cents,
           CAST(sum(day_cents) OVER (
               PARTITION BY segment ORDER BY day_idx
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cents_30d
    FROM daily
    ORDER BY segment, day
    """,
)
def ds_rolling_range_window(spark, sf_dir):
    """DS q51/q57 shape: a RANGE-frame rolling aggregate — each
    (segment, day)'s trailing-30-day revenue, where the frame is bound
    by VALUE distance (29 days back), not row count: days with no sales
    must age out of the window even though no row represents them. The
    battery's other moving aggregates are all ROWS frames; this is the
    one RANGE-frame physical shape.

    Scale: the fact collapses to a (segment, day) daily aggregate
    FIRST (map-side combinable, ~segments × days rows), and the window
    runs over that tiny frame — partitioned by segment, so no
    single-partition sort; customer broadcasts onto the orders scan.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    daily = (
        t["orders"]
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("day_cents"))
        .withColumn("day_idx", F.datediff("day", F.lit("1970-01-01").cast("date")))
    )
    w = (
        W.partitionBy("segment")
        .orderBy("day_idx")
        .rangeBetween(-29, W.currentRow)
    )
    return (
        daily.select(
            "segment",
            "day",
            F.col("day_cents").cast("bigint").alias("day_cents"),
            F.sum("day_cents").over(w).cast("bigint").alias("cents_30d"),
        )
        .orderBy("segment", "day")
    )


@register(
    "ds_brands_above_avg_semi",
    tags=("tpcds-shape", "semi-join", "subquery"),
    oracle=f"""
    WITH brand_avg AS (
        SELECT p_brand,
               sum({CENTS_SQL.format(c='p_retailprice')}) AS cents,
               count(*) AS n
        FROM part GROUP BY p_brand
    ), globals AS (
        SELECT sum(cents) AS g_cents, sum(n) AS g_n FROM brand_avg
    ), rich AS (
        SELECT p_brand FROM brand_avg, globals
        WHERE cents * g_n > g_cents * n
    )
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand IN (SELECT p_brand FROM rich)
    GROUP BY brand
    ORDER BY brand
    """,
)
def ds_brands_above_avg_semi(spark, sf_dir):
    """DS q6/q23 shape: a semi-join against an AGGREGATE subquery —
    brands whose average retail price beats the corpus-wide average
    (exact integer cross-multiplication cents·g_n > g_cents·n), then
    lineitem volume and revenue for just those brands.

    Scale: the subquery aggregates the ~|brands|-row part dim twice
    (per-brand + global) — trivial; the qualifying-brand set broadcasts
    into the part join, part broadcasts onto the lineitem scan, so the
    fact is scanned once with the semi filter applied via broadcast.
    """
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    brand_avg = t["part"].groupBy("p_brand").agg(
        F.sum(cents("p_retailprice")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    g = brand_avg.agg(
        F.sum("cents").alias("g_cents"), F.sum("n").alias("g_n")
    )
    rich = (
        brand_avg.join(F.broadcast(g))
        .filter(F.col("cents") * F.col("g_n") > F.col("g_cents") * F.col("n"))
        .select("p_brand")
    )
    parts = t["part"].join(F.broadcast(rich), "p_brand", "left_semi")
    return (
        t["lineitem"]
        .join(maybe_broadcast(parts.select("p_partkey", "p_brand"), "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum(rev_cents()).cast("bigint").alias("rev_cents"),
        )
        .orderBy("brand")
    )


@register(
    "ds_first_last_span",
    tags=("tpcds-shape", "agg", "argminmax"),
    oracle=f"""
    WITH keyed AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   * 10000000000 + o_orderkey AS okey,
               {CENTS_SQL.format(c='o_totalprice')} AS cents
        FROM orders
    ), spans AS (
        SELECT o_custkey, yr,
               arg_min(cents, okey) AS first_cents,
               arg_max(cents, okey) AS last_cents,
               count(*) AS n_orders
        FROM keyed GROUP BY o_custkey, yr
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(last_cents - first_cents) AS BIGINT) AS span_cents,
           CAST(sum(CASE WHEN last_cents > first_cents THEN 1 ELSE 0 END) AS BIGINT)
               AS n_grew
    FROM spans WHERE n_orders >= 2
    GROUP BY yr ORDER BY yr
    """,
)
def ds_first_last_span(spark, sf_dir):
    """DS q11/q74 shape: each customer-year's FIRST and LAST order price
    (arg_min/arg_max over a unique bigint key: epoch-day·1e10 +
    orderkey, so the "first/last" tie-break is total), then the yearly
    census of customers whose last order outgrew their first.

    Scale: min_by/max_by are ordinary map-side-combinable aggregates —
    no window sort over the fact; two cascaded aggs, both shrinking.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    okey = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        * F.lit(10000000000).cast("bigint")
        + F.col("o_orderkey")
    )
    keyed = o.select(
        "o_custkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        okey.alias("okey"),
        cents("o_totalprice").alias("cents"),
    )
    spans = keyed.groupBy("o_custkey", "yr").agg(
        F.min_by("cents", "okey").alias("first_cents"),
        F.max_by("cents", "okey").alias("last_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        spans.filter(F.col("n_orders") >= 2)
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("last_cents") - F.col("first_cents"))
            .cast("bigint")
            .alias("span_cents"),
            F.sum((F.col("last_cents") > F.col("first_cents")).cast("int"))
            .cast("bigint")
            .alias("n_grew"),
        )
        .orderBy("yr")
    )


@register(
    "ds_quarter_setop_chain",
    tags=("tpcds-shape", "setop"),
    oracle="""
    WITH q1 AS (SELECT DISTINCT o_custkey FROM orders
                WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 1),
         q2 AS (SELECT DISTINCT o_custkey FROM orders
                WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 2),
         failed AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE year(o_orderdate) = 1996 AND o_orderstatus = 'F'),
         loyal AS (SELECT o_custkey FROM q1
                   INTERSECT SELECT o_custkey FROM q2
                   EXCEPT SELECT o_custkey FROM failed)
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM loyal l JOIN customer c ON l.o_custkey = c.c_custkey
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_quarter_setop_chain(spark, sf_dir):
    """DS q8/q14 shape: a CHAINED set operation — customers active in
    both 1996 Q1 and Q2 (INTERSECT) minus those with any failed 1996
    order (EXCEPT), censused by segment. The battery's set-op entries
    each exercise one operator; this is the composed plan with distinct
    semantics flowing through both steps.

    Scale: each leg is a distinct-agg of a pushdown-filtered scan;
    INTERSECT/EXCEPT compile to hash semi/anti joins on |customers|-
    sized sets, and the segment census broadcasts the customer dim.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    o = t["orders"].withColumn("yr", F.year("o_orderdate"))
    in_1996 = o.filter(F.col("yr") == 1996)
    q1 = in_1996.filter(F.quarter("o_orderdate") == 1).select("o_custkey").distinct()
    q2 = in_1996.filter(F.quarter("o_orderdate") == 2).select("o_custkey").distinct()
    failed = in_1996.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    loyal = q1.intersect(q2).exceptAll(failed)
    return (
        loyal.join(
            maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("segment")
    )
