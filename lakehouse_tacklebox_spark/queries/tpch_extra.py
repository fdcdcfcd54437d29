"""Extended TPC-H-shaped battery (q6/q7/q8/q9/q14/q18/q19, adapted to the
testdata schema — no partsupp/commitdate/shipmode columns, so predicates
use the columns that exist; the join/agg shapes are the canonical ones).

All money arithmetic goes through functions.money DECIMALs on both the
engine and oracle sides (half-cent float drift otherwise); every output
is rounded and fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import DISC_PRICE_SQL, disc_price, dmoney, drate, dsum_dbl
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "q6_forecast_revenue",
    bench=True,
    tags=("agg", "scan"),
    oracle=f"""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                          * CAST(l_discount AS DECIMAL(7,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """Forecast-revenue change: pure scan+filter+global agg; every
    predicate pushes to parquet (PushedFilters), no shuffle at all."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum_dbl(dmoney("l_extendedprice") * drate(F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q7_volume_shipping",
    bench=True,
    tags=("join", "agg"),
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(round(sum({DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """Volume shipping between two nations: the 6-way star join.

    Scale: nation/supplier broadcast (bounded dims); the only big
    shuffle is lineitem↔orders on the order key; the nation-pair filter
    applies before aggregation so the groupBy sees a sliver."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "orders", "customer", "nation"])
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nk") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(dsum_dbl(disc_price()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    tags=("join", "agg", "conditional"),
    oracle=f"""
    WITH vol AS (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               {DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')} AS volume,
               n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN part     ON p_partkey = l_partkey
        WHERE p_type = 'STANDARD'
    )
    SELECT o_year,
           CAST(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                      / nullif(sum(volume), 0), 6) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """National market share within one part type per year: conditional
    aggregation over a star join (CASE-inside-agg, SURVEY §2.4 A5)."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "supplier", "nation", "part"])
    part = t["part"].filter(F.col("p_type") == "STANDARD").select("p_partkey")
    vol = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(maybe_broadcast(part, "part"), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            disc_price().alias("volume"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0).cast("decimal(18,6)")))
    return (
        vol.groupBy("o_year")
        .agg(F.round(nation_vol / F.nullif(F.sum("volume"), F.lit(0)), 6).cast("double").alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    tags=("join", "agg"),
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(round(sum({DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')}), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN part     ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark, sf_dir):
    """Profit by supplier nation and year over one brand (q9 shape,
    supplycost-free since the testdata has no partsupp)."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "supplier", "nation", "part"])
    part = t["part"].filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    return (
        t["lineitem"]
        .join(maybe_broadcast(part, "part"), F.col("p_partkey") == F.col("l_partkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum_dbl(disc_price()).alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q14_promo_effect",
    tags=("join", "agg", "conditional"),
    oracle=f"""
    SELECT CAST(round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')} ELSE 0 END)
                      / nullif(sum({DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')}), 0), 6) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_effect(spark, sf_dir):
    """Promotion revenue share for one month: broadcast part join +
    conditional global aggregate."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(F.lit(0).cast("decimal(18,6)")))
    return (
        li.join(maybe_broadcast(t["part"], "part"), F.col("p_partkey") == F.col("l_partkey"))
        .agg(F.round(F.lit(100.0) * promo / F.nullif(F.sum(disc_price()), F.lit(0)), 6).cast("double").alias("promo_revenue_pct"))
    )


@register(
    "q18_large_volume_customer",
    tags=("join", "agg", "having", "topk"),
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING sum(l_quantity) > 150
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """Large-volume orders: agg-then-filter (HAVING) + deterministic
    top-k. Scale: pre-aggregate lineitem by order key BEFORE joining
    customer — the heavy groupBy sees only (orderkey, qty), and the
    HAVING prunes before the dimension join."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("raw_qty"), 2).cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_discounted_revenue",
    tags=("join", "predicate"),
    oracle=f"""
    SELECT CAST(round(sum({DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')}), 2) AS DOUBLE) AS revenue, count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """OR-of-bands predicate across the join (q19 shape): Catalyst can
    push the common p_partkey equi-join and evaluate the disjunction
    post-join; part stays broadcast."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    bands = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        t["lineitem"]
        .join(maybe_broadcast(t["part"], "part"), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bands)
        .agg(dsum_dbl(disc_price()).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )
