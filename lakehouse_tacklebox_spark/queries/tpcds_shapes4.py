"""TPC-DS query shapes, fourth wave: dispersion stats, velocity screens,
calendar pivots and dual-rank unions from the reference's 99-query battery
(reference: 30-performance/TPC-DS Runner/notebooks/
create_data_and_queries.scala:96-99, tpcds2_4QueriesMap).

Shapes in this wave (DS query each models):
- q17  → ds_quantity_dispersion   (quantity mean/variance by brand)
- q65  → ds_low_velocity_parts    (items selling below half the brand avg)
- q59  → ds_weekday_wow_ratio     (week-over-week sales per weekday)
- q49  → ds_return_rank_union     (worst return ratios by two ranks, unioned)
- q66  → ds_priority_month_matrix (calendar × category wide pivot)
- q21/q40 → ds_before_after_split (activity around a pivot date)
- q12/q98 → ds_category_share_window (part share of category in a window)
- q23  → ds_best_customer_frequent_parts (two derived filter sets joined)

Determinism contract (same as tpcds_shapes.py/2/3): money as exact integer
cents (DECIMAL product → round → BIGINT), ratios as a single mirrored
floor(double) ppm op, ranks as row_number with full tie-breaks, quantities
cast to BIGINT (TPC-H quantities are integral). The one double-valued
expression (dispersion) is the same left-associated IEEE product on both
engines over exact integer inputs, so it is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_quantity_dispersion",
    tags=("tpcds-shape", "agg", "dispersion"),
    bench=True,
    oracle="""
    WITH per_brand AS (
        SELECT p.p_brand AS brand,
               count(*) AS n_lines,
               sum(CAST(l.l_quantity AS BIGINT)) AS sum_qty,
               sum(CAST(l.l_quantity AS BIGINT) * CAST(l.l_quantity AS BIGINT)) AS sum_qty_sq
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand
    )
    SELECT brand, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(sum_qty AS BIGINT) AS sum_qty,
           CAST(sum_qty_sq AS BIGINT) AS sum_qty_sq,
           CAST(floor(CAST(n_lines AS DOUBLE) * CAST(sum_qty_sq AS DOUBLE) * 1000000.0
                / (CAST(sum_qty AS DOUBLE) * CAST(sum_qty AS DOUBLE))) AS BIGINT)
               AS dispersion_ppm
    FROM per_brand
    ORDER BY brand
    """,
)
def ds_quantity_dispersion(spark, sf_dir):
    """DS q17 shape: quantity dispersion per brand — n·Σq²/(Σq)² as ppm
    (1,000,000 = perfectly uniform quantities; larger = burstier). DS
    computes mean/stdev per item over a 3-channel chain; the engine-
    portable form keeps the three exact integer moments and derives the
    dispersion with one mirrored floor(double) expression.

    Scale: one lineitem scan, map-side-combinable integer moment sums
    keyed by partkey, broadcast part dim for the brand rollup — no fact
    shuffle beyond the 25-row brand agg. Moments are the classic
    one-pass parallel form (no per-group sort, no second scan); the
    double product only touches 25 aggregated rows.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    q = F.col("l_quantity").cast("bigint")
    per_brand = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(q).cast("bigint").alias("sum_qty"),
            F.sum(q * q).cast("bigint").alias("sum_qty_sq"),
        )
    )
    disp = ppm(
        F.col("n_lines").cast("double") * F.col("sum_qty_sq").cast("double"),
        F.col("sum_qty").cast("double") * F.col("sum_qty").cast("double"),
    )
    return per_brand.select(
        "brand", "n_lines", "sum_qty", "sum_qty_sq", disp.alias("dispersion_ppm")
    ).orderBy("brand")


@register(
    "ds_low_velocity_parts",
    tags=("tpcds-shape", "having", "velocity"),
    oracle=f"""
    WITH per_part AS (
        SELECT p.p_brand AS brand, l.l_partkey AS partkey,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand, partkey
    ), branded AS (
        SELECT brand, partkey, cents,
               sum(cents) OVER (PARTITION BY brand) AS brand_cents,
               count(*) OVER (PARTITION BY brand) AS brand_parts
        FROM per_part
    )
    SELECT brand, partkey, CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0 / brand_cents) AS BIGINT)
               AS brand_share_ppm
    FROM branded
    WHERE cents * brand_parts * 4 < brand_cents * 3
    ORDER BY brand, partkey
    """,
)
def ds_low_velocity_parts(spark, sf_dir):
    """DS q65 shape: parts whose revenue runs below 75% of their brand's
    per-part average — the low-velocity inventory screen (DS uses half;
    this corpus' uniform quantities compress per-part variance, so 3/4
    keeps the screen non-degenerate at every SF). The filter is the
    exact integer cross-multiplication cents·n·4 < brand_total·3 (no
    division), the reported share a mirrored floor-ppm.

    Scale: lineitem aggregates to per-part cents first (the only fact
    shuffle, keyed by partkey); the brand window runs over the already-
    reduced per-part frame (|parts| rows, not |lineitem|). DS writes
    this as a fact self-join against an AVG subquery — the window form
    reads the reduced frame once.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    per_part = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_partkey").alias("partkey"))
        .agg(F.sum(rev_cents()).cast("bigint").alias("cents"))
    )
    wb = W.partitionBy("brand")
    branded = per_part.select(
        "brand",
        "partkey",
        "cents",
        F.sum("cents").over(wb).alias("brand_cents"),
        F.count(F.lit(1)).over(wb).alias("brand_parts"),
    )
    return (
        branded.filter(
            F.col("cents") * F.col("brand_parts") * 4 < F.col("brand_cents") * 3
        )
        .select(
            "brand",
            "partkey",
            "cents",
            ppm("cents", "brand_cents").alias("brand_share_ppm"),
        )
        .orderBy("brand", "partkey")
    )


@register(
    "ds_weekday_wow_ratio",
    tags=("tpcds-shape", "window", "lag"),
    oracle=f"""
    WITH weekly AS (
        SELECT (extract(dow FROM o_orderdate)) AS dow,
               CAST(floor(date_diff('day', DATE '1970-01-01',
                                    CAST(o_orderdate AS DATE)) / 7) AS BIGINT) AS week_idx,
               sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders
        GROUP BY dow, week_idx
    ), laged AS (
        SELECT CAST(dow AS INTEGER) AS dow, week_idx, CAST(cents AS BIGINT) AS cents,
               CAST(lag(cents) OVER (PARTITION BY dow ORDER BY week_idx) AS BIGINT)
                   AS prev_week_cents
        FROM weekly
    )
    SELECT dow, week_idx, cents, prev_week_cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0 / prev_week_cents) AS BIGINT)
               AS wow_ppm
    FROM laged
    WHERE prev_week_cents IS NOT NULL
    ORDER BY dow, week_idx
    """,
)
def ds_weekday_wow_ratio(spark, sf_dir):
    """DS q59 shape: week-over-week sales ratio per weekday — each
    (weekday, week) cell vs the same weekday one week earlier. Week
    index is epoch-day÷7 (engine-portable); DuckDB's extract(dow) is
    0-based Sunday=0, Spark's dayofweek 1-based Sunday=1 — normalized on
    the Spark side (the metrics heatmap convention).

    Scale: one orders scan into a (dow, week) agg — map-side combinable,
    ~7·weeks cells regardless of fact size; the lag window runs over the
    tiny aggregated frame partitioned by weekday. DS q59 self-joins two
    year-shifted copies of the weekly frame; lag on the combined frame
    is one shuffle cheaper and identical in result.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    weekly = o.groupBy(
        (F.dayofweek("o_orderdate") - F.lit(1)).cast("int").alias("dow"),
        F.floor(F.unix_date(F.col("o_orderdate").cast("date")) / 7)
        .cast("bigint")
        .alias("week_idx"),
    ).agg(F.sum(cents("o_totalprice")).alias("cents"))
    lw = W.partitionBy("dow").orderBy("week_idx")
    laged = weekly.select(
        "dow",
        "week_idx",
        "cents",
        F.lag("cents").over(lw).cast("bigint").alias("prev_week_cents"),
    )
    return (
        laged.filter(F.col("prev_week_cents").isNotNull())
        .select(
            "dow",
            "week_idx",
            "cents",
            "prev_week_cents",
            ppm("cents", "prev_week_cents").alias("wow_ppm"),
        )
        .orderBy("dow", "week_idx")
    )


@register(
    "ds_return_rank_union",
    tags=("tpcds-shape", "window", "rank-union"),
    bench=True,
    oracle=f"""
    WITH per_part AS (
        SELECT o.o_orderpriority AS priority, l.l_partkey AS partkey,
               sum(CASE WHEN l.l_returnflag = 'R' THEN CAST(l.l_quantity AS BIGINT)
                        ELSE 0 END) AS ret_qty,
               sum(CAST(l.l_quantity AS BIGINT)) AS tot_qty,
               sum(CASE WHEN l.l_returnflag = 'R'
                        THEN {REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}
                        ELSE 0 END) AS ret_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY priority, partkey
    ), ranked AS (
        SELECT priority, partkey,
               CAST(floor(CAST(ret_qty AS DOUBLE) * 1000000.0 / tot_qty) AS BIGINT)
                   AS ratio_ppm,
               CAST(ret_cents AS BIGINT) AS ret_cents,
               CAST(row_number() OVER (PARTITION BY priority
                    ORDER BY CAST(floor(CAST(ret_qty AS DOUBLE) * 1000000.0 / tot_qty) AS BIGINT) DESC,
                             partkey) AS BIGINT) AS rank_ratio,
               CAST(row_number() OVER (PARTITION BY priority
                    ORDER BY ret_cents DESC, partkey) AS BIGINT) AS rank_cents
        FROM per_part
        WHERE ret_qty > 0
    )
    SELECT priority, partkey, ratio_ppm, ret_cents, rank_ratio, rank_cents
    FROM ranked
    WHERE rank_ratio <= 10 OR rank_cents <= 10
    ORDER BY priority, partkey
    """,
)
def ds_return_rank_union(spark, sf_dir):
    """DS q49 shape: the "worst returns" report — per order-priority
    channel, parts ranked BOTH by return ratio and by returned dollars,
    keeping anything in either top-10 (DS unions three per-channel
    SELECTs; one frame with two windows is equivalent and cheaper).
    row_number with partkey tie-break keeps ranks engine-deterministic.

    Scale: lineitem joins orders on the orderkey (the co-partitioned
    fact-fact join), aggregates to (priority, part) — both shuffles are
    on analysis keys with partial aggs; the two rank windows share one
    partition pass over the reduced frame (|priority×part| rows).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    q = F.col("l_quantity").cast("bigint")
    is_ret = F.col("l_returnflag") == "R"
    per_part = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.sum(F.when(is_ret, q).otherwise(F.lit(0))).alias("ret_qty"),
            F.sum(q).alias("tot_qty"),
            F.sum(F.when(is_ret, rev_cents()).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("ret_cents"),
        )
        .filter(F.col("ret_qty") > 0)
    )
    ratio = ppm("ret_qty", "tot_qty")
    ranked = per_part.select(
        "priority",
        "partkey",
        ratio.alias("ratio_ppm"),
        "ret_cents",
        F.row_number()
        .over(W.partitionBy("priority").orderBy(ratio.desc(), "partkey"))
        .cast("bigint")
        .alias("rank_ratio"),
        F.row_number()
        .over(W.partitionBy("priority").orderBy(F.desc("ret_cents"), "partkey"))
        .cast("bigint")
        .alias("rank_cents"),
    )
    return (
        ranked.filter((F.col("rank_ratio") <= 10) | (F.col("rank_cents") <= 10))
        .orderBy("priority", "partkey")
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_COLS = ["urgent", "high", "medium", "notspec", "low"]


@register(
    "ds_priority_month_matrix",
    tags=("tpcds-shape", "pivot", "calendar"),
    oracle=f"""
    SELECT (EXTRACT(year FROM o_orderdate) * 12
            + EXTRACT(month FROM o_orderdate)) AS month_idx,
           {', '.join(
        f"CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN {CENTS_SQL.format(c='o_totalprice')} ELSE 0 END) AS BIGINT) AS {c}_cents"
        for p, c in zip(_PRIORITIES, _PRIORITY_COLS)
    )},
           CAST(sum({CENTS_SQL.format(c='o_totalprice')}) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY month_idx
    ORDER BY month_idx
    """,
)
def ds_priority_month_matrix(spark, sf_dir):
    """DS q66 shape: the calendar × category wide matrix — monthly sales
    cents pivoted across the five order priorities plus a total column
    (q66 pivots 12 months × ship modes; priority is this schema's
    low-cardinality category). Explicit pivot value list skips the
    distinct-discovery scan.

    Scale: one orders scan, single (month) grouping with the five
    conditional sums computed map-side — a pivot with an explicit value
    list compiles to exactly these CASE sums, no extra pass, ~80 output
    rows regardless of fact size.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    o_cents = cents("o_totalprice")
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    pivoted = (
        o.select(month_idx.alias("month_idx"), F.col("o_orderpriority"), o_cents.alias("cents"))
        .groupBy("month_idx")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.sum("cents"))
    )
    totals = (
        o.groupBy(month_idx.alias("month_idx"))
        .agg(F.sum(o_cents).cast("bigint").alias("total_cents"))
    )
    return (
        pivoted.join(totals, "month_idx")
        .select(
            "month_idx",
            *[
                F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(f"{c}_cents")
                for p, c in zip(_PRIORITIES, _PRIORITY_COLS)
            ],
            "total_cents",
        )
        .orderBy("month_idx")
    )


@register(
    "ds_before_after_split",
    tags=("tpcds-shape", "date-split"),
    oracle=f"""
    WITH windowed AS (
        SELECT r.r_name AS region,
               CASE WHEN o.o_orderdate < TIMESTAMP '1998-06-15' THEN 'before'
                    ELSE 'after' END AS side,
               {CENTS_SQL.format(c='o.o_totalprice')} AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-12-17'
          AND o.o_orderdate < TIMESTAMP '1998-12-11'
    ), split AS (
        SELECT region,
               sum(CASE WHEN side = 'before' THEN 1 ELSE 0 END) AS n_before,
               sum(CASE WHEN side = 'after' THEN 1 ELSE 0 END) AS n_after,
               sum(CASE WHEN side = 'before' THEN cents ELSE 0 END) AS before_cents,
               sum(CASE WHEN side = 'after' THEN cents ELSE 0 END) AS after_cents
        FROM windowed GROUP BY region
    )
    SELECT region, CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           CAST(before_cents AS BIGINT) AS before_cents,
           CAST(after_cents AS BIGINT) AS after_cents,
           CASE WHEN before_cents > 0
                THEN CAST(floor(CAST(after_cents AS DOUBLE) * 1000000.0 / before_cents) AS BIGINT)
                ELSE NULL END AS shift_ppm
    FROM split
    ORDER BY region
    """,
)
def ds_before_after_split(spark, sf_dir):
    """DS q21/q40 shape: activity split around a pivot date — order
    counts and cents per region in the 180 days before vs after
    1998-06-15, with the after/before ratio (NULL-guarded: a region with
    zero 'before' cents reports NULL, identically on both engines).

    Scale: the date predicate is a parquet-pushed range scan (min/max
    stats skip ~86% of order files); both sides aggregate in ONE pass
    via conditional sums — no union of two scans, which is how DS writes
    it. Dims chain-broadcast onto the filtered fact.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation", "region"])
    lo, pivot, hi = "1997-12-17", "1998-06-15", "1998-12-11"
    o_cents = cents("o_totalprice")
    before = F.col("o_orderdate") < F.lit(pivot).cast("timestamp")
    windowed = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("region"), before.alias("is_before"), o_cents.alias("cents"))
    )
    split = windowed.groupBy("region").agg(
        F.sum(F.when(F.col("is_before"), 1).otherwise(0)).cast("bigint").alias("n_before"),
        F.sum(F.when(~F.col("is_before"), 1).otherwise(0)).cast("bigint").alias("n_after"),
        F.sum(F.when(F.col("is_before"), F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("before_cents"),
        F.sum(F.when(~F.col("is_before"), F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("after_cents"),
    )
    return split.select(
        "region",
        "n_before",
        "n_after",
        "before_cents",
        "after_cents",
        F.when(F.col("before_cents") > 0, ppm("after_cents", "before_cents"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("shift_ppm"),
    ).orderBy("region")


@register(
    "ds_category_share_window",
    tags=("tpcds-shape", "share", "date-window"),
    bench=True,
    oracle=f"""
    WITH in_window AS (
        SELECT p.p_type AS category, l.l_partkey AS partkey,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-03-02'
        GROUP BY category, partkey
    )
    SELECT category, partkey, CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(cents AS DOUBLE) * 1000000.0
                / sum(cents) OVER (PARTITION BY category)) AS BIGINT) AS category_share_ppm
    FROM in_window
    ORDER BY category, partkey
    """,
)
def ds_category_share_window(spark, sf_dir):
    """DS q12/q98 shape: each part's revenue share of its category over a
    60-day ship window, as floor-ppm of exact cents.

    Scale: the shipdate range predicate pushes to the parquet scan
    (~97% of lineitem files skipped on min/max); the fact aggregates to
    (category, part) before the share window, so the window sum runs
    over |parts-in-window| rows. Part dim broadcasts. DS writes the
    share with sum() OVER on the un-aggregated fact — aggregating first
    is equivalent (share of part = share of its summed cents) and moves
    the window off the fact table.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    in_window = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-03-02").cast("timestamp"))
        )
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("category"), F.col("l_partkey").alias("partkey"))
        .agg(F.sum(rev_cents()).cast("bigint").alias("cents"))
    )
    share = ppm(F.col("cents"), F.sum("cents").over(W.partitionBy("category")))
    return in_window.select(
        "category", "partkey", "cents", share.alias("category_share_ppm")
    ).orderBy("category", "partkey")


@register(
    "ds_best_customer_frequent_parts",
    tags=("tpcds-shape", "derived-filters"),
    bench=True,
    oracle=f"""
    WITH frequent_parts AS (
        SELECT l_partkey FROM lineitem
        GROUP BY l_partkey
        HAVING count(DISTINCT l_orderkey) >= 30
    ), best_customers AS (
        SELECT o_custkey FROM (
            SELECT o_custkey,
                   row_number() OVER (
                       ORDER BY sum({CENTS_SQL.format(c='o_totalprice')}) DESC,
                                o_custkey) AS rn
            FROM orders GROUP BY o_custkey
        ) WHERE rn <= 100
    )
    SELECT (EXTRACT(year FROM o.o_orderdate) * 12
            + EXTRACT(month FROM o.o_orderdate)) AS month_idx,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS BIGINT) AS cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN frequent_parts fp ON l.l_partkey = fp.l_partkey
    JOIN best_customers bc ON o.o_custkey = bc.o_custkey
    GROUP BY month_idx
    ORDER BY month_idx
    """,
)
def ds_best_customer_frequent_parts(spark, sf_dir):
    """DS q23 shape: revenue by month restricted to BOTH derived filter
    sets — frequently-sold parts (≥30 distinct orders; the corpus ships
    ~30 orders/part at every SF, so the screen keeps roughly the top
    half) and the top-100 customers by lifetime spend (row_number with
    custkey tie-break).

    Scale: both filter sets are aggregations of facts down to key lists
    — frequent parts from a (partkey, orderkey) distinct-agg, best
    customers from a custkey agg + a global top-100 (TakeOrdered, no
    full sort). Both reduced sets broadcast as LeftSemi probes onto the
    lineitem∙orders join, so the fact is scanned once and never
    shuffled by a derived key. DS q23 phrases these as IN-subqueries —
    same plan, explicit here.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    frequent_parts = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.count_distinct("l_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= 30)
        .select("l_partkey")
    )
    best_customers = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
        .orderBy(F.desc("cents"), "o_custkey")
        .limit(100)
        .select("o_custkey")
    )
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(frequent_parts, "part"), "l_partkey", "left_semi")
        .join(F.broadcast(best_customers), "o_custkey", "left_semi")
        .groupBy(month_idx.alias("month_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(rev_cents()).cast("bigint").alias("cents"),
        )
        .orderBy("month_idx")
    )
