"""TPC-DS query shapes, sixteenth wave: multi-branch scan aggregates,
correlated-threshold slices, and calendar matrices (reference:
30-performance/TPC-DS Runner/notebooks/create_data_and_queries.scala:96-99
— the q-number map whose uncovered members these shapes re-express on the
driver's TPC-H-ish star schema).

- q28     → ds_quantity_band_stats (the six-branch quantity-band scan
            re-expressed as ONE banded aggregate — six SELECT branches
            over the same fact collapse to a CASE column + groupBy,
            one scan instead of six)
- q32/q92 → ds_excess_discount_lines (lines discounted >1.3× their
            part's average — the correlated scalar subquery
            decorrelated into a per-part window, one shuffle)
- q82/q37 → ds_active_priced_parts (price-band parts active in a
            3-month ship window — dim-filter × fact-window census)
- q45/q85 → ds_nation_return_refunds (per-nation refund mass and
            return-rate ppm through the orders→customer bridge)
- q41     → ds_attribute_combo_census (OR-of-AND attribute predicate
            families over the dim only — no fact scan at all)
- q43/q96 → ds_weekday_priority_matrix (day-of-week × priority counts,
            weekday from epoch-day mod 7 so both engines agree without
            any locale/dow-origin dependency)

Determinism contract as tpcds_shapes.py/2-15: money in exact integer
cents, ratios as floored ppm with measured margins, every output fully
ordered.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, cents, ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_quantity_band_stats",
    tags=("tpcds-shape", "agg", "multi-branch"),
    oracle=f"""
    SELECT CAST(least(floor((l_quantity - 1) / 10), 4) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT) AS cents,
           CAST(count(DISTINCT {CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT)
               AS n_distinct_prices
    FROM lineitem
    GROUP BY band
    ORDER BY band
    """,
)
def ds_quantity_band_stats(spark, sf_dir):
    """DS q28 shape: the six-branch same-fact scan (quantity bands, each
    branch computing count/avg/distinct over its slice) re-expressed as
    ONE banded aggregate — the CASE band is a grouping column, so Spark
    scans the fact once where the literal q28 translation scans it six
    times. Distinct prices are counted on exact cents.

    Scale: single fact scan, one shuffle on ≤5 band keys with map-side
    partials; the distinct-count expands per band but stays bounded by
    the price domain.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    band = F.least(F.floor((F.col("l_quantity") - 1) / 10), F.lit(4)).cast("bigint")
    return (
        li.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(cents("l_extendedprice")).cast("bigint").alias("cents"),
            F.countDistinct(cents("l_extendedprice")).cast("bigint").alias("n_distinct_prices"),
        )
        .orderBy("band")
    )


@register(
    "ds_excess_discount_lines",
    tags=("tpcds-shape", "window", "correlated"),
    oracle=f"""
    WITH d AS (
        SELECT l_returnflag,
               CAST(round(CAST(l_discount AS DECIMAL(5,4)) * 10000) AS BIGINT) AS bp,
               {CENTS_SQL.format(c='l_extendedprice')} AS cents,
               count(*) OVER (PARTITION BY l_partkey) AS n_part,
               sum(CAST(round(CAST(l_discount AS DECIMAL(5,4)) * 10000) AS BIGINT))
                   OVER (PARTITION BY l_partkey) AS sum_bp
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_excess,
           CAST(sum(cents) AS BIGINT) AS excess_cents
    FROM d
    WHERE bp * 10 * n_part > 13 * sum_bp
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def ds_excess_discount_lines(spark, sf_dir):
    """DS q32/q92 shape: 'excess discount' — lines whose discount
    exceeds 1.3× their part's average discount. The correlated scalar
    subquery (SELECT avg(l_discount) ... WHERE same partkey) is
    decorrelated into a per-part window, and the 1.3× compare is the
    exact integer cross-multiplication bp·10·n > 13·Σbp in basis
    points — no float mean ever materialized.

    Scale: ONE shuffle on l_partkey for the window (the agg-and-join-
    back form shuffles twice and scans twice); the filtered slice
    reduces to |returnflag| groups.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    bp = F.round(F.col("l_discount").cast("decimal(5,4)") * 10000).cast("bigint")
    w = W.partitionBy("l_partkey")
    d = li.select(
        "l_returnflag",
        bp.alias("bp"),
        cents("l_extendedprice").alias("cents"),
        F.count(F.lit(1)).over(w).alias("n_part"),
        F.sum(bp).over(w).alias("sum_bp"),
    )
    return (
        d.filter(F.col("bp") * 10 * F.col("n_part") > 13 * F.col("sum_bp"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_excess"),
            F.sum("cents").cast("bigint").alias("excess_cents"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "ds_active_priced_parts",
    tags=("tpcds-shape", "join", "window-range"),
    oracle=f"""
    SELECT p.p_type,
           CAST(count(DISTINCT p.p_partkey) AS BIGINT) AS n_parts,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum({CENTS_SQL.format(c='l.l_extendedprice')}) AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_retailprice >= 1200 AND p.p_retailprice < 1500
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY p.p_type
    ORDER BY p.p_type
    """,
)
def ds_active_priced_parts(spark, sf_dir):
    """DS q82/q37 shape: 'current inventory in a price band that moved
    in a 90-day window' — the dim is pre-filtered on the price band,
    the fact on the ship window, and the census reports distinct parts
    plus moved quantity per type. Both filters reach their parquet
    scans (PushedFilters) before the join.

    Scale: the price-band dim slice grows with SF, so it carries NO
    broadcast hint (maybe_broadcast policy) — AQE broadcasts it at
    bench SF, shuffles at 100 TB; the ship-window fact slice is ~4% of
    the fact.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    part = t["part"].filter(
        (F.col("p_retailprice") >= 1200) & (F.col("p_retailprice") < 1500)
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    return (
        li.join(maybe_broadcast(part, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.countDistinct("p_partkey").cast("bigint").alias("n_parts"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
            F.sum(cents("l_extendedprice")).cast("bigint").alias("cents"),
        )
        .orderBy("p_type")
    )


@register(
    "ds_nation_return_refunds",
    tags=("tpcds-shape", "join", "ratio"),
    oracle=f"""
    WITH lines AS (
        SELECT n.n_name AS nation,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
               {CENTS_SQL.format(c='l.l_extendedprice')} AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation,
           CAST(sum(ret) AS BIGINT) AS n_returned,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN ret = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS refund_cents,
           CAST(floor(CAST(sum(ret) AS DOUBLE) * 1000000.0 / count(*)) AS BIGINT)
               AS return_ppm
    FROM lines
    GROUP BY nation
    ORDER BY nation
    """,
)
def ds_nation_return_refunds(spark, sf_dir):
    """DS q45/q85 shape: geographic returns breakdown — refund mass and
    return-rate ppm per customer nation, reached through the
    fact→orders→customer→nation bridge. The rate is a conditional sum
    over the SAME aggregate pass (no second scan for the denominator).

    Scale: lineitem⋈orders shuffles on the order key; customer joins
    un-hinted (maybe_broadcast policy — AQE broadcasts at bench SF);
    nation is a true bounded dim and hints broadcast. Aggregate output
    is |nations| rows.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer", "nation"])
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    lines = (
        t["lineitem"]
        .select("l_orderkey", ret.alias("ret"), cents("l_extendedprice").alias("cents"))
        .join(t["orders"].select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            maybe_broadcast(t["customer"].select("c_custkey", "c_nationkey"), "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(maybe_broadcast(t["nation"], "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        lines.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("ret").cast("bigint").alias("n_returned"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("ret") == 1, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("refund_cents"),
            ppm(F.sum("ret"), F.count(F.lit(1))).alias("return_ppm"),
        )
        .orderBy("nation")
    )


@register(
    "ds_attribute_combo_census",
    tags=("tpcds-shape", "dim-only", "predicate-family"),
    oracle="""
    SELECT p_type,
           CAST(floor((p_size - 1) / 10) AS BIGINT) AS size_band,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
           CAST(min(CAST(round(CAST(p_retailprice AS DECIMAL(14,2)) * 100) AS BIGINT)) AS BIGINT)
               AS min_price_cents,
           CAST(max(CAST(round(CAST(p_retailprice AS DECIMAL(14,2)) * 100) AS BIGINT)) AS BIGINT)
               AS max_price_cents
    FROM part
    WHERE (p_size BETWEEN 1 AND 15 AND p_type IN ('ECONOMY', 'PROMO'))
       OR (p_size BETWEEN 20 AND 40 AND p_type IN ('LARGE', 'SMALL'))
    GROUP BY p_type, size_band
    ORDER BY p_type, size_band
    """,
)
def ds_attribute_combo_census(spark, sf_dir):
    """DS q41 shape: an OR-of-AND attribute predicate family evaluated
    over the dimension ALONE — no fact scan at all (q41 counts distinct
    product names matching four and-blocks or'd together). The census
    reports combo cardinalities and price extrema per (type,
    size-band).

    Scale: a dim-only scan with the whole predicate pushed down; the
    aggregate is |types × bands|. The point of the shape is what it
    does NOT do: touch a fact.
    """
    p = load_tables(spark, sf_dir, ["part"])["part"]
    fam = (
        (F.col("p_size").between(1, 15) & F.col("p_type").isin("ECONOMY", "PROMO"))
        | (F.col("p_size").between(20, 40) & F.col("p_type").isin("LARGE", "SMALL"))
    )
    return (
        p.filter(fam)
        .groupBy("p_type", F.floor((F.col("p_size") - 1) / 10).cast("bigint").alias("size_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.countDistinct("p_brand").cast("bigint").alias("n_brands"),
            F.min(cents("p_retailprice")).cast("bigint").alias("min_price_cents"),
            F.max(cents("p_retailprice")).cast("bigint").alias("max_price_cents"),
        )
        .orderBy("p_type", "size_band")
    )


@register(
    "ds_weekday_priority_matrix",
    tags=("tpcds-shape", "calendar", "pivot"),
    oracle="""
    WITH d AS (
        SELECT o_orderpriority,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7
                   AS wd,
               CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN wd IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
           CAST(sum(CASE WHEN wd NOT IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_weekday,
           CAST(sum(CASE WHEN wd = 0 THEN cents ELSE 0 END) AS BIGINT) AS thu_cents,
           CAST(sum(CASE WHEN wd = 4 THEN cents ELSE 0 END) AS BIGINT) AS mon_cents,
           CAST(floor(CAST(sum(CASE WHEN wd IN (2, 3) THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / count(*)) AS BIGINT) AS weekend_ppm
    FROM d
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ds_weekday_priority_matrix(spark, sf_dir):
    """DS q43/q96 shape: day-of-week activity matrix per priority
    (store-hours / weekday-sales census). The weekday is computed as
    days-since-epoch mod 7 (epoch day 0 = Thursday, so wd 2/3 =
    Sat/Sun) — pure integer arithmetic both engines share, immune to
    dow-origin and locale differences between Spark and DuckDB.

    Scale: one fact scan, conditional sums over |priorities| groups —
    entirely map-side-combinable, no join, no window.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    wd = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")) % 7
    )
    o_cents = cents("o_totalprice")
    weekend = F.when(wd.isin(2, 3), 1).otherwise(0)
    return (
        o.select(
            "o_orderpriority",
            wd.alias("wd"),
            o_cents.alias("cents"),
            weekend.alias("wk"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum("wk").cast("bigint").alias("n_weekend"),
            F.sum(F.lit(1) - F.col("wk")).cast("bigint").alias("n_weekday"),
            F.sum(F.when(F.col("wd") == 0, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("thu_cents"),
            F.sum(F.when(F.col("wd") == 4, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("mon_cents"),
            ppm(F.sum("wk"), F.count(F.lit(1))).alias("weekend_ppm"),
        )
        .orderBy("o_orderpriority")
    )
