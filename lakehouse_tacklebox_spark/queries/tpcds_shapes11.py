"""TPC-DS query shapes, eleventh wave: decile transition matrices,
percent_rank/cume_dist distributions, moment-based correlation, cross-
fact calendar alignment, LOCF gap-fill over a generated date spine, and
a monthly seasonality index (reference: 30-performance/TPC-DS Runner/
notebooks/create_data_and_queries.scala:96-99).

- q34/q73 → ds_decile_transition  (NTILE decile in year Y self-joined to
            year Y+1 — the customer-migration transition matrix)
- q49     → ds_percentile_distribution (percent_rank + cume_dist window
            functions bucketed into quartiles — neither function appears
            elsewhere in the battery)
- q17     → ds_quantity_discount_corr (Pearson r² from one-pass integer
            moments, engine-exact bigints then one mirrored double)
- q54/q31 → ds_calendar_fact_align (two FACTS aggregated to day grain
            and FULL OUTER aligned on the calendar — order intake vs
            ship-out volume)
- q51     → ds_locf_gap_fill     (generated date spine + last-non-null
            carry-forward — the IGNORE NULLS window surface)
- q59     → ds_month_seasonality_index (month's share of its year ×12 as
            a ppm index per brand — two-level time aggregation)

Determinism contract as tpcds_shapes.py/2-10: exact integer cents,
identical aliases both engines, full tie-breaks, mirrored double math
only as the final projection of identical integer inputs.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, cents, ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_decile_transition",
    tags=("tpcds-shape", "window", "self-join"),
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
               sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY o_custkey, yr
    ), deciled AS (
        SELECT o_custkey, yr,
               CAST(ntile(10) OVER (PARTITION BY yr ORDER BY cents, o_custkey)
                    AS BIGINT) AS decile
        FROM spend
    )
    SELECT a.decile AS decile_1996, b.decile AS decile_1997,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM deciled a JOIN deciled b
      ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
    GROUP BY decile_1996, decile_1997
    ORDER BY decile_1996, decile_1997
    """,
)
def ds_decile_transition(spark, sf_dir):
    """DS q34/q73 shape: customers are deciled by yearly spend (NTILE 10,
    fully tie-broken on (cents, custkey)), then year-1996 deciles are
    joined to year-1997 deciles per customer — the migration transition
    matrix behind "did our best customers stay?".

    Scale: the fact reduces to (customer, year) spend first; NTILE runs
    per year partition over that reduced frame; the self-join is on the
    deciled aggregate (|customers| rows), never the fact, and the output
    is ≤ 100 matrix cells.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    spend = (
        o.withColumn("yr", F.year("o_orderdate").cast("bigint"))
        .filter(F.col("yr").isin(1996, 1997))
        .groupBy("o_custkey", "yr")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    deciled = spend.select(
        "o_custkey",
        "yr",
        F.ntile(10)
        .over(W.partitionBy("yr").orderBy("cents", "o_custkey"))
        .cast("bigint")
        .alias("decile"),
    )
    a = deciled.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("decile").alias("decile_1996")
    )
    b = deciled.filter(F.col("yr") == 1997).select(
        "o_custkey", F.col("decile").alias("decile_1997")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("decile_1996", "decile_1997")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("decile_1996", "decile_1997")
    )


@register(
    "ds_percentile_distribution",
    tags=("tpcds-shape", "window"),
    oracle=f"""
    WITH spend AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY segment, o.o_custkey
    ), ranked AS (
        SELECT segment, cents,
               percent_rank() OVER (PARTITION BY segment
                                    ORDER BY cents, o_custkey) AS pr,
               cume_dist() OVER (PARTITION BY segment
                                 ORDER BY cents, o_custkey) AS cd
        FROM spend
    )
    SELECT segment,
           CAST(least(floor(pr * 4), 3) AS BIGINT) AS quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(floor(min(cd) * 1000000) AS BIGINT) AS min_cume_ppm
    FROM ranked
    GROUP BY segment, quartile
    ORDER BY segment, quartile
    """,
)
def ds_percentile_distribution(spark, sf_dir):
    """DS q49 shape: percent_rank and cume_dist — the two distribution
    window functions no other battery entry exercises — bucketing each
    segment's customers into spend quartiles (floor(pr·4) capped at 3,
    so the pr=1.0 top customer joins the last bucket).

    Both functions are rank-based on a fully tie-broken (cents,
    custkey) order, so their doubles are k/(n-1) and k/n of integer
    positions — identical across engines; the ppm floor is the same
    mirrored projection every ratio in the battery uses.

    Scale: fact → per-customer agg first; windows partition by segment
    over the reduced frame; output is segments × 4.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    spend = (
        t["orders"]
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = W.partitionBy("segment").orderBy("cents", "o_custkey")
    ranked = spend.select(
        "segment",
        "cents",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.select(
            "segment",
            F.least(F.floor(F.col("pr") * 4), F.lit(3)).cast("bigint").alias("quartile"),
            "cents",
            "cd",
        )
        .groupBy("segment", "quartile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.floor(F.min("cd") * 1000000).cast("bigint").alias("min_cume_ppm"),
        )
        .orderBy("segment", "quartile")
    )


@register(
    "ds_quantity_discount_corr",
    tags=("tpcds-shape", "stats"),
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sx,
               sum(CAST(round(l_discount * 100) AS BIGINT)) AS sy,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS sxy,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
               sum(CAST(round(l_discount * 100) AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag AS returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END AS BIGINT)
               AS corr_sign,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) AS r2_ppm
    FROM m ORDER BY returnflag
    """,
)
def ds_quantity_discount_corr(spark, sf_dir):
    """DS q17 shape: Pearson correlation (quantity vs discount) from
    ONE-PASS integer moments (n, Σx, Σy, Σxy, Σx², Σy²) per return
    flag — never a centered second pass. The moments are exact bigints
    in both engines (quantity ≤ 50, discount·100 ≤ 10, so every product
    fits int64 with 10⁹ headroom); r² and its sign are a final mirrored
    double projection of those identical integers.

    Scale: a single map-side-combinable aggregate over the fact; the
    output is |returnflag| rows. The same moment trick powers
    ds_quantity_dispersion — this adds the CROSS-moment (Σxy).
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_discount") * 100).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("n").cast("bigint").alias("n"),
            F.when(cov >= 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint").alias("corr_sign"),
            ppm(
                cov.cast("double") * cov.cast("double"),
                varx.cast("double") * vary.cast("double"),
            ).alias("r2_ppm"),
        )
        .orderBy("returnflag")
    )


@register(
    "ds_calendar_fact_align",
    tags=("tpcds-shape", "full-outer", "multi-fact"),
    oracle="""
    WITH intake AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
        FROM orders WHERE year(o_orderdate) = 1996 GROUP BY day
    ), shipped AS (
        SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ship_lines
        FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY day
    )
    SELECT coalesce(i.day, s.day) AS day,
           CAST(coalesce(i.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(s.n_ship_lines, 0) AS BIGINT) AS n_ship_lines
    FROM intake i FULL OUTER JOIN shipped s ON i.day = s.day
    ORDER BY day
    """,
)
def ds_calendar_fact_align(spark, sf_dir):
    """DS q54/q31 shape: TWO fact tables aggregated to a common calendar
    grain and FULL OUTER aligned — 1996 order intake vs ship-out volume
    per day, with zero-filled gaps on either side. The multi-fact
    date-align is the backbone of every store-vs-web DS report; the
    battery's other full-outer entry (ds_channel_overlap_census) aligns
    on entity, this one on the calendar.

    Scale: each fact collapses to ≤366 rows independently (pushdown
    year filter, map-side combine) before the join — the full-outer is
    calendar-bounded regardless of fact size.
    """
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    intake = (
        t["orders"]
        .filter(F.year("o_orderdate") == 1996)
        .groupBy(F.col("o_orderdate").cast("date").alias("i_day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    shipped = (
        t["lineitem"]
        .filter(F.year("l_shipdate") == 1996)
        .groupBy(F.col("l_shipdate").cast("date").alias("s_day"))
        .agg(F.count(F.lit(1)).alias("n_ship_lines"))
    )
    j = intake.join(shipped, intake["i_day"] == shipped["s_day"], "full_outer")
    return (
        j.select(
            F.coalesce(F.col("i_day"), F.col("s_day")).alias("day"),
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(F.col("n_ship_lines"), F.lit(0)).cast("bigint").alias("n_ship_lines"),
        )
        .orderBy("day")
    )


@register(
    "ds_locf_gap_fill",
    tags=("tpcds-shape", "window", "spine"),
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS day_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) = 1996
        GROUP BY segment, day
    ), spine AS (
        SELECT s.segment, CAST(d.day AS DATE) AS day
        FROM (SELECT DISTINCT segment FROM daily) s
        CROSS JOIN (SELECT unnest(generate_series(DATE '1996-01-01',
                                                  DATE '1996-12-31',
                                                  INTERVAL 1 DAY)) AS day) d
    )
    SELECT sp.segment, sp.day,
           CAST(coalesce(d.day_cents, 0) AS BIGINT) AS day_cents,
           CAST(coalesce(last_value(d.day_cents IGNORE NULLS) OVER (
               PARTITION BY sp.segment ORDER BY sp.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
               AS carried_cents
    FROM spine sp LEFT JOIN daily d ON sp.segment = d.segment AND sp.day = d.day
    ORDER BY sp.segment, sp.day
    """,
)
def ds_locf_gap_fill(spark, sf_dir):
    """DS q51 shape: a GENERATED calendar spine (every 1996 day ×
    segment) left-joined to the daily aggregate, with missing days
    filled by last-observation-carried-forward — the IGNORE NULLS
    window surface (`last(..., ignorenulls)`) plus spine generation
    (`sequence` + explode), neither used elsewhere in the battery.
    This is the canonical gap-fill for downstream time-series models
    that need a dense calendar.

    Scale: the spine is |segments| × 366 rows built from literals —
    no fact scan; the fact collapses to (segment, day) first; the LOCF
    window runs per segment over ≤366 rows.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    daily = (
        t["orders"]
        .filter(F.year("o_orderdate") == 1996)
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("day_cents"))
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    spine = daily.select("segment").distinct().crossJoin(F.broadcast(days))
    j = spine.join(daily, ["segment", "day"], "left")
    locf = F.last("day_cents", ignorenulls=True).over(
        W.partitionBy("segment").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        j.select(
            "segment",
            "day",
            F.coalesce(F.col("day_cents"), F.lit(0)).cast("bigint").alias("day_cents"),
            F.coalesce(locf, F.lit(0)).cast("bigint").alias("carried_cents"),
        )
        .orderBy("segment", "day")
    )


@register(
    "ds_month_seasonality_index",
    tags=("tpcds-shape", "window", "time"),
    oracle=f"""
    WITH monthly AS (
        SELECT p.p_brand AS brand,
               CAST(year(l.l_shipdate) AS BIGINT) AS yr,
               CAST(month(l.l_shipdate) AS BIGINT) AS mon,
               sum({CENTS_SQL.format(c='l.l_extendedprice')}) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE year(l.l_shipdate) = 1996
        GROUP BY brand, yr, mon
    )
    SELECT brand, mon,
           CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents AS DOUBLE) * 12000000.0
                      / sum(cents) OVER (PARTITION BY brand, yr)) AS BIGINT)
               AS seasonality_ppm
    FROM monthly
    ORDER BY brand, mon
    """,
)
def ds_month_seasonality_index(spark, sf_dir):
    """DS q59 shape: each month's share of its brand-year ×12 as a ppm
    seasonality index (1,000,000 = an average month; 2,000,000 = double
    the average). Two-level time aggregation: fact → (brand, year,
    month), then a window over the year total — the share-of-parent
    pattern at month-in-year grain.

    Scale: one fact scan with the year pushdown, part broadcast; the
    window partitions by (brand, year) over ≤12 rows each.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    monthly = (
        t["lineitem"]
        .filter(F.year("l_shipdate") == 1996)
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("bigint").alias("yr"),
            F.month("l_shipdate").cast("bigint").alias("mon"),
        )
        .agg(F.sum(cents("l_extendedprice")).alias("cents"))
    )
    year_total = F.sum("cents").over(W.partitionBy("brand", "yr"))
    return (
        monthly.select(
            "brand",
            "mon",
            F.col("cents").cast("bigint").alias("cents"),
            F.floor(F.col("cents").cast("double") * 12000000.0 / year_total)
            .cast("bigint")
            .alias("seasonality_ppm"),
        )
        .orderBy("brand", "mon")
    )
