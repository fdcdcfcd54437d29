"""TPC-DS query shapes, fifth wave: outlier screens, OR-band predicates,
latency buckets, adoption windows and retention transitions from the
reference's 99-query battery (reference: 30-performance/TPC-DS Runner/
notebooks/create_data_and_queries.scala:96-99, tpcds2_4QueriesMap).

Shapes in this wave (DS query each models):
- q1   → ds_high_return_customers  (above 1.2× group-average returns)
- q6   → ds_premium_parts          (items priced above category average)
- q39  → ds_demand_volatility_pairs (back-to-back volatile months)
- q48  → ds_multiband_or_filter    (OR-of-AND band predicate, one scan)
- q50  → ds_return_latency_buckets (day-bucket CASE columns per channel)
- q54  → ds_post_adoption_spend    (spend in the 90 days after first
                                    purchase of a target category)
- q11/q74 → ds_cross_year_retention (year-to-year retained/churned/
                                     acquired transition census)
- q58  → ds_channel_spread_balance (items selling evenly across channels)

Determinism contract (same as tpcds_shapes.py/2/3/4): exact integer cents,
thresholds as integer cross-multiplications (no division), ratios as one
mirrored floor(double) ppm op, date distances via datediff-days (both
engines count calendar days on DATE-cast values).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast


@register(
    "ds_high_return_customers",
    tags=("tpcds-shape", "outlier-screen"),
    bench=True,
    oracle=f"""
    WITH ret AS (
        SELECT n.n_name AS nation, o.o_custkey AS custkey,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS ret_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY nation, custkey
    ), nat AS (
        SELECT *, sum(ret_cents) OVER (PARTITION BY nation) AS nat_cents,
               count(*) OVER (PARTITION BY nation) AS nat_n
        FROM ret
    )
    SELECT nation, custkey, CAST(ret_cents AS BIGINT) AS ret_cents,
           CAST(floor(CAST(ret_cents AS DOUBLE) * nat_n * 1000000.0 / nat_cents)
                AS BIGINT) AS vs_nation_avg_ppm
    FROM nat
    WHERE ret_cents * nat_n * 10 > nat_cents * 12
    ORDER BY nation, custkey
    """,
)
def ds_high_return_customers(spark, sf_dir):
    """DS q1 shape: customers whose returned dollars exceed 1.2× the
    per-customer average of their nation — the "excessive returns"
    screen. DS phrases the bar as a correlated AVG subquery per state;
    the window form computes every nation's average in one pass, and
    the 1.2× cut is the exact integer cross-multiplication
    cents·n·10 > total·12.

    Scale: returned lines aggregate to (nation, customer) first — the
    only fact shuffle; the nation window runs over the reduced
    per-customer frame. Dims broadcast onto the filtered fact ('R'
    lines only, ~25% selectivity pushed to the scan).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer", "nation"])
    ret = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("custkey"))
        .agg(F.sum(rev_cents()).cast("bigint").alias("ret_cents"))
    )
    wn = W.partitionBy("nation")
    nat = ret.select(
        "nation",
        "custkey",
        "ret_cents",
        F.sum("ret_cents").over(wn).alias("nat_cents"),
        F.count(F.lit(1)).over(wn).alias("nat_n"),
    )
    return (
        nat.filter(F.col("ret_cents") * F.col("nat_n") * 10 > F.col("nat_cents") * 12)
        .select(
            "nation",
            "custkey",
            "ret_cents",
            ppm(F.col("ret_cents").cast("double") * F.col("nat_n"), "nat_cents")
            .alias("vs_nation_avg_ppm"),
        )
        .orderBy("nation", "custkey")
    )


@register(
    "ds_premium_parts",
    tags=("tpcds-shape", "dim-screen"),
    oracle="""
    WITH pp AS (
        SELECT p_type AS category, p_partkey AS partkey,
               CAST(round(CAST(p_retailprice AS DECIMAL(14,2)) * 100) AS BIGINT) AS cents
        FROM part
    ), w AS (
        SELECT *, sum(cents) OVER (PARTITION BY category) AS cat_cents,
               count(*) OVER (PARTITION BY category) AS cat_n
        FROM pp
    )
    SELECT category, partkey, cents,
           CAST(floor(CAST(cents AS DOUBLE) * cat_n * 1000000.0 / cat_cents)
                AS BIGINT) AS vs_category_avg_ppm
    FROM w
    WHERE cents * cat_n * 100 >= cat_cents * 104
    ORDER BY category, partkey
    """,
)
def ds_premium_parts(spark, sf_dir):
    """DS q6 shape: items priced at least 1.04× their category's average
    retail price (DS uses 1.2×; this corpus draws retail prices from a
    uniform ±5% band, so 4% above mean is the premium tail — ~12% of
    parts at every SF). Dim-table-only screen: the exact
    cross-multiplication cents·n·100 ≥ total·104.

    Scale: runs entirely on the part dimension — no fact scan at all;
    the category window partitions |parts| rows by ~6 categories. At
    100 TB the part dim is still a few GB: single-stage.
    """
    p = load_tables(spark, sf_dir, ["part"])["part"]
    pp = p.select(
        F.col("p_type").alias("category"),
        F.col("p_partkey").alias("partkey"),
        cents("p_retailprice").alias("cents"),
    )
    wc = W.partitionBy("category")
    w = pp.select(
        "category",
        "partkey",
        "cents",
        F.sum("cents").over(wc).alias("cat_cents"),
        F.count(F.lit(1)).over(wc).alias("cat_n"),
    )
    return (
        w.filter(F.col("cents") * F.col("cat_n") * 100 >= F.col("cat_cents") * 104)
        .select(
            "category",
            "partkey",
            "cents",
            ppm(F.col("cents").cast("double") * F.col("cat_n"), "cat_cents")
            .alias("vs_category_avg_ppm"),
        )
        .orderBy("category", "partkey")
    )


@register(
    "ds_demand_volatility_pairs",
    tags=("tpcds-shape", "window", "volatility"),
    oracle="""
    WITH pm AS (
        SELECT p.p_brand AS brand,
               (EXTRACT(year FROM o.o_orderdate) * 12
                + EXTRACT(month FROM o.o_orderdate)) AS month_idx,
               count(*) AS n,
               sum(CAST(l.l_quantity AS BIGINT)) AS sq,
               sum(CAST(l.l_quantity AS BIGINT) * CAST(l.l_quantity AS BIGINT)) AS sq2
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand, month_idx
        HAVING count(*) >= 2
    ), d AS (
        SELECT brand, CAST(month_idx AS BIGINT) AS month_idx,
               CAST(floor(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) * 1000000.0
                    / (CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))) AS BIGINT) AS disp_ppm
        FROM pm
    ), lagd AS (
        SELECT brand, month_idx, disp_ppm,
               lag(disp_ppm) OVER (PARTITION BY brand ORDER BY month_idx) AS prev_disp_ppm,
               lag(month_idx) OVER (PARTITION BY brand ORDER BY month_idx) AS prev_month
        FROM d
    )
    SELECT brand, month_idx, disp_ppm, prev_disp_ppm
    FROM lagd
    WHERE prev_month = month_idx - 1
      AND disp_ppm > 1100000 AND prev_disp_ppm > 1100000
    ORDER BY brand, month_idx
    """,
)
def ds_demand_volatility_pairs(spark, sf_dir):
    """DS q39 shape: brand-months whose quantity dispersion exceeds the
    volatility bar in BOTH a month and the month before it (DS flags
    warehouse-items with cov > 1 in consecutive months and self-joins
    the two months; the lag window over the derived stat replaces the
    self-join). Dispersion is the same one-pass integer-moment ppm as
    ds_quantity_dispersion; the adjacency test is exact month-index
    arithmetic.

    Scale: one fact pass to (brand, month) moments — map-side
    combinable; the lag window runs over the tiny derived frame. DS's
    formulation joins the stat frame to itself on (item, month+1) —
    identical result, one extra shuffle avoided.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "part"])
    q = F.col("l_quantity").cast("bigint")
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    pm = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(t["part"], "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), month_idx.alias("month_idx"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("sq"),
            F.sum(q * q).alias("sq2"),
        )
        .filter(F.col("n") >= 2)
    )
    disp = ppm(
        F.col("n").cast("double") * F.col("sq2").cast("double"),
        F.col("sq").cast("double") * F.col("sq").cast("double"),
    )
    d = pm.select("brand", "month_idx", disp.alias("disp_ppm"))
    lw = W.partitionBy("brand").orderBy("month_idx")
    lagd = d.select(
        "brand",
        "month_idx",
        "disp_ppm",
        F.lag("disp_ppm").over(lw).alias("prev_disp_ppm"),
        F.lag("month_idx").over(lw).alias("prev_month"),
    )
    return (
        lagd.filter(
            (F.col("prev_month") == F.col("month_idx") - 1)
            & (F.col("disp_ppm") > 1100000)
            & (F.col("prev_disp_ppm") > 1100000)
        )
        .select("brand", "month_idx", "disp_ppm", "prev_disp_ppm")
        .orderBy("brand", "month_idx")
    )


@register(
    "ds_multiband_or_filter",
    tags=("tpcds-shape", "or-bands"),
    oracle=f"""
    SELECT CASE WHEN l.l_quantity <= 10 AND l.l_extendedprice BETWEEN 0 AND 20000
                     THEN 'small'
                WHEN l.l_quantity BETWEEN 11 AND 25
                     AND l.l_extendedprice BETWEEN 10000 AND 60000 THEN 'mid'
                ELSE 'large' END AS band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS BIGINT) AS cents
    FROM lineitem l
    WHERE (l.l_quantity <= 10 AND l.l_extendedprice BETWEEN 0 AND 20000)
       OR (l.l_quantity BETWEEN 11 AND 25 AND l.l_extendedprice BETWEEN 10000 AND 60000)
       OR (l.l_quantity >= 26 AND l.l_extendedprice >= 40000)
    GROUP BY band
    ORDER BY band
    """,
)
def ds_multiband_or_filter(spark, sf_dir):
    """DS q48 shape: one aggregate under an OR-of-AND multi-band
    predicate (quantity band × price band, three disjuncts) — the shape
    that punishes engines which can't keep a disjunctive predicate in
    the scan. Band labels use the same CASE order both sides; the
    disjuncts are arranged so the CASE is exhaustive over the filtered
    rows (band 3 is the ELSE).

    Scale: single lineitem scan; the OR predicate stays in the parquet
    reader (each disjunct bounds l_quantity/l_extendedprice, so
    row-group min/max stats prune on the union of the ranges), and the
    3-row agg is map-side combinable. No join, no shuffle beyond the
    3-group exchange.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    small = (qty <= 10) & (price >= 0) & (price <= 20000)
    mid = (qty >= 11) & (qty <= 25) & (price >= 10000) & (price <= 60000)
    large = (qty >= 26) & (price >= 40000)
    band = F.when(small, "small").when(mid, "mid").otherwise("large")
    return (
        li.filter(small | mid | large)
        .groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
            F.sum(rev_cents()).cast("bigint").alias("cents"),
        )
        .orderBy("band")
    )


@register(
    "ds_return_latency_buckets",
    tags=("tpcds-shape", "latency-buckets"),
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) <= 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS d0_30,
           CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) BETWEEN 31 AND 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
           CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) BETWEEN 61 AND 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
           CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) BETWEEN 91 AND 120
                         THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
           CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) > 120
                         THEN 1 ELSE 0 END) AS BIGINT) AS d120_plus,
           CAST(sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS BIGINT) AS returned_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY priority
    ORDER BY priority
    """,
)
def ds_return_latency_buckets(spark, sf_dir):
    """DS q50 shape: returned lines bucketed by order-to-ship latency —
    the five CASE day-bucket columns per channel that q50 writes
    verbatim. Day distance is datediff over DATE-cast values, identical
    calendar-day semantics on both engines.

    Scale: the 'R' predicate pushes to the scan; lineitem joins orders
    on the orderkey (co-partitioned fact-fact join) and collapses to 5
    rows with map-side-combinable conditional sums — the wide CASE
    columns cost nothing extra over a single count.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    lat = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    buckets = [
        ("d0_30", lat <= 30),
        ("d31_60", (lat >= 31) & (lat <= 60)),
        ("d61_90", (lat >= 61) & (lat <= 90)),
        ("d91_120", (lat >= 91) & (lat <= 120)),
        ("d120_plus", lat > 120),
    ]
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            *[
                F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)
                for name, cond in buckets
            ],
            F.sum(rev_cents()).cast("bigint").alias("returned_cents"),
        )
        .orderBy("priority")
    )


@register(
    "ds_post_adoption_spend",
    tags=("tpcds-shape", "adoption-window"),
    bench=True,
    oracle="""
    WITH first_eco AS (
        SELECT o.o_custkey AS custkey, min(o.o_orderdate) AS first_dt
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = 'ECONOMY'
        GROUP BY custkey
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o
    JOIN first_eco f ON o.o_custkey = f.custkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE date_diff('day', CAST(f.first_dt AS DATE), CAST(o.o_orderdate AS DATE))
          BETWEEN 1 AND 90
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_post_adoption_spend(spark, sf_dir):
    """DS q54 shape: customer spend in the 90 days AFTER their first
    purchase of a target category (q54 builds the cohort from a
    month-bounded category purchase and revisits ±3 months; here the
    cohort anchor is each customer's first ECONOMY purchase). The
    window test is datediff ∈ [1, 90] on DATE-cast values.

    Scale: the cohort anchor is a (custkey → min date) agg over the
    category-filtered fact. It scales with |customers|, so it is NOT
    hint-broadcast — AQE broadcasts it dynamically at bench SF and
    falls back to a custkey-partitioned shuffle join at 100 TB (the
    category filter makes it a fraction of the customer count either
    way). The distinct-customer count rides the segment agg (Spark
    plans partial distinct under AQE).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "part", "customer"])
    first_eco = (
        t["lineitem"]
        .join(maybe_broadcast(t["part"].filter(F.col("p_type") == "ECONOMY"), "part"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.min("o_orderdate").alias("first_dt"))
    )
    gap = F.datediff(F.col("o_orderdate").cast("date"), F.col("first_dt").cast("date"))
    return (
        t["orders"]
        .join(first_eco, F.col("o_custkey") == F.col("custkey"))
        .filter((gap >= 1) & (gap <= 90))
        .join(maybe_broadcast(t["customer"], "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("cents"),
        )
        .orderBy("segment")
    )


@register(
    "ds_cross_year_retention",
    tags=("tpcds-shape", "retention"),
    oracle="""
    WITH cy AS (
        SELECT DISTINCT o_custkey AS c, EXTRACT(year FROM o_orderdate) AS y
        FROM orders
    ), trans AS (
        SELECT a.y AS from_year,
               sum(CASE WHEN b.c IS NOT NULL THEN 1 ELSE 0 END) AS retained,
               sum(CASE WHEN b.c IS NULL THEN 1 ELSE 0 END) AS churned
        FROM cy a LEFT JOIN cy b ON a.c = b.c AND b.y = a.y + 1
        GROUP BY from_year
    ), active AS (
        SELECT y, count(*) AS n_active FROM cy GROUP BY y
    )
    SELECT CAST(t.from_year AS BIGINT) AS from_year,
           CAST(act.n_active AS BIGINT) AS n_active,
           CAST(t.retained AS BIGINT) AS retained,
           CAST(t.churned AS BIGINT) AS churned,
           CAST(coalesce(nxt.n_active, 0) - t.retained AS BIGINT) AS acquired_next,
           CAST(floor(CAST(t.retained AS DOUBLE) * 1000000.0 / act.n_active) AS BIGINT)
               AS retention_ppm
    FROM trans t
    JOIN active act ON act.y = t.from_year
    LEFT JOIN active nxt ON nxt.y = t.from_year + 1
    WHERE t.from_year < (SELECT max(y) FROM cy)
    ORDER BY from_year
    """,
)
def ds_cross_year_retention(spark, sf_dir):
    """DS q11/q74 shape turned transition census: for each year, how many
    active customers were retained into the next year, churned, and how
    many of the next year's actives are newly acquired (DS compares
    per-customer spend across consecutive years; the census is the
    aggregate form of the same distinct-(customer, year) frame).

    Scale: one orders scan to the distinct (customer, year) frame —
    the only fact shuffle; the self-join on (customer, year+1) runs on
    the reduced frame (|customers|·|years| rows max) and the final
    report is |years| rows. The max-year cutoff rides the tiny active
    frame, not a second fact scan.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    cy = o.select(
        F.col("o_custkey").alias("c"),
        F.year("o_orderdate").cast("bigint").alias("y"),
    ).distinct()
    nxt = cy.select(F.col("c").alias("c2"), (F.col("y") - 1).alias("y2"))
    trans = (
        cy.join(nxt, (F.col("c") == F.col("c2")) & (F.col("y") == F.col("y2")), "left")
        .groupBy(F.col("y").alias("from_year"))
        .agg(
            F.sum(F.when(F.col("c2").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("retained"),
            F.sum(F.when(F.col("c2").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("churned"),
        )
    )
    active = cy.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    max_y = active.agg(F.max("y").alias("max_y"))
    return (
        trans.join(active, trans.from_year == active.y)
        .drop("y")
        .join(
            active.select(F.col("y").alias("ny"), F.col("n_active").alias("next_active")),
            F.col("from_year") + 1 == F.col("ny"),
            "left",
        )
        .join(F.broadcast(max_y))
        .filter(F.col("from_year") < F.col("max_y"))
        .select(
            "from_year",
            "n_active",
            "retained",
            "churned",
            (F.coalesce(F.col("next_active"), F.lit(0)) - F.col("retained"))
            .cast("bigint")
            .alias("acquired_next"),
            ppm("retained", "n_active").alias("retention_ppm"),
        )
        .orderBy("from_year")
    )


@register(
    "ds_channel_spread_balance",
    tags=("tpcds-shape", "spread-screen"),
    oracle=f"""
    WITH pc AS (
        SELECT l.l_partkey AS partkey, o.o_orderpriority AS priority,
               sum({REV_CENTS_SQL.format(p='l.l_extendedprice', d='l.l_discount')}) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY partkey, priority
    ), spread AS (
        SELECT partkey, count(*) AS n_channels,
               min(cents) AS min_cents, max(cents) AS max_cents
        FROM pc GROUP BY partkey
    )
    SELECT partkey, CAST(min_cents AS BIGINT) AS min_cents,
           CAST(max_cents AS BIGINT) AS max_cents,
           CAST(floor(CAST(max_cents AS DOUBLE) * 1000000.0 / min_cents) AS BIGINT)
               AS spread_ppm
    FROM spread
    WHERE n_channels = 5 AND max_cents * 10 <= min_cents * 15
    ORDER BY partkey
    """,
)
def ds_channel_spread_balance(spark, sf_dir):
    """DS q58 shape: items selling EVENLY across all channels — present
    in every one of the five priority channels with max revenue within
    1.5× of min (q58 keeps items whose single-day sales sit within ±10%
    of the 3-channel average; min/max spread over all five channels is
    the stricter generalized form). Exact integer cross-multiplied cut.

    Scale: fact joins orders on the orderkey, aggregates to
    (part, channel) — one shuffle keyed by partkey — then the 5-row-
    per-part min/max collapse; both aggs partial-combine. No
    self-joins: DS writes one CTE per channel and joins them 3-way.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    pc = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_partkey").alias("partkey"), F.col("o_orderpriority").alias("priority"))
        .agg(F.sum(rev_cents()).cast("bigint").alias("cents"))
    )
    spread = pc.groupBy("partkey").agg(
        F.count(F.lit(1)).alias("n_channels"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )
    return (
        spread.filter(
            (F.col("n_channels") == 5)
            & (F.col("max_cents") * 10 <= F.col("min_cents") * 15)
        )
        .select(
            "partkey",
            "min_cents",
            "max_cents",
            ppm("max_cents", "min_cents").alias("spread_ppm"),
        )
        .orderBy("partkey")
    )
