"""TPC-DS query shapes, second wave: the remaining classic patterns from
the reference's 99-query battery (create_data_and_queries.scala:96-99)
not yet covered by tpcds_shapes.py / tpch_extra3.py.

Shape map (DS query → entry here):
- q23  frequent item combos            → ds_basket_pairs
- q34  frequent-buyer order buckets    → ds_frequent_buyer_buckets
- q67  rank within ROLLUP levels       → ds_rollup_level_rank
- q93  returns-adjusted net sales      → ds_returns_net
- q31  quarter-over-quarter share      → ds_quarterly_share_shift
- q? (CLV) repeat-purchase cadence     → ds_repeat_purchase_gap
- q97  channel-overlap FULL OUTER      → ds_customer_channel_overlap
- q49/q98 quantile spend bands         → ds_ntile_spend_bands

Determinism contract (same as tpcds_shapes.py): money is exact integer
cents end-to-end — per-row DECIMAL arithmetic rounded to cents BEFORE the
sum, so both engines add the same integers; every ratio is a single
floor(a * 1e6 / b) over exact ints (one IEEE double op, mirrored
order-for-order → engine-exact); windows carry a total order.

Scale notes are per-query; the common rules: each fact table is scanned
once, dims broadcast, self-joins are keyed on a co-partitioned column
with bounded fan-out, and rank/ntile windows run over already-aggregated
frames (grouped rows, never fact rows).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import CENTS_SQL, REV_CENTS_SQL, cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables


_HIGH = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


@register(
    "ds_basket_pairs",
    tags=("tpcds-shape", "self-join", "market-basket"),
    bench=True,
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_baskets
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_baskets
    FROM pairs
    ORDER BY n_baskets DESC, part_a, part_b
    LIMIT 50
    """,
)
def ds_basket_pairs(spark, sf_dir):
    """DS q23 shape (frequent item combos): parts co-purchased in the same
    order, top-50 pairs by basket count.

    Scale: DS q23 writes this as a self-join; the Spark-first shape is
    ONE lineitem scan → collect_set(partkey) per order (map-side
    combinable, orders have ≤7 lines) → explode the sorted in-order pair
    combinations with JVM array functions — C(7,2)=21 pairs/order max,
    no join anywhere. One orderkey shuffle + one pair-agg shuffle total
    (the self-join formulation costs two scans and lets AQE broadcast
    ~|distinct items| rows, which stops being possible at 100 TB);
    TakeOrderedAndProject caps the driver at 50 rows.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), y ->"
                " struct(x AS part_a, y AS part_b))))"
            )
        ).alias("pair")
    ).select("pair.part_a", "pair.part_b")
    counted = pairs.groupBy("part_a", "part_b").agg(F.count(F.lit(1)).alias("n_baskets"))
    return counted.orderBy(F.desc("n_baskets"), "part_a", "part_b").limit(50)


@register(
    "ds_frequent_buyer_buckets",
    tags=("tpcds-shape", "agg", "having"),
    oracle="""
    WITH order_sizes AS (
        SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    ), bucket_orders AS (
        SELECT o.o_custkey
        FROM orders o JOIN order_sizes s ON o.o_orderkey = s.l_orderkey
        WHERE s.n_lines BETWEEN 4 AND 7
    ), frequent AS (
        SELECT o_custkey, count(*) AS n_bucket_orders
        FROM bucket_orders GROUP BY o_custkey HAVING count(*) >= 2
    )
    SELECT c.c_custkey, c.c_mktsegment, f.n_bucket_orders
    FROM frequent f JOIN customer c ON f.o_custkey = c.c_custkey
    ORDER BY f.n_bucket_orders DESC, c.c_custkey
    """,
)
def ds_frequent_buyer_buckets(spark, sf_dir):
    """DS q34/q73 shape: customers with ≥2 orders whose line count falls
    in a size bucket [4,7].

    Scale: order sizes are a map-side-combinable count on the lineitem
    natural key; the orders join is orderkey-hashed (both sides shuffle
    once on the same key); the per-customer HAVING is a second grouped agg
    over ~|orders| rows; the customer join attaches the segment at the
    end, on the already-reduced frequent set (semi-sized, broadcastable
    under AQE at any SF where customers-with-2+-bucket-orders is small).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer"])
    sizes = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines").between(4, 7))
    )
    frequent = (
        t["orders"]
        .join(sizes, t["orders"].o_orderkey == sizes.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_bucket_orders"))
        .filter(F.col("n_bucket_orders") >= 2)
    )
    return (
        frequent.join(t["customer"], frequent.o_custkey == F.col("c_custkey"))
        .select("c_custkey", "c_mktsegment", "n_bucket_orders")
        .orderBy(F.desc("n_bucket_orders"), "c_custkey")
    )


@register(
    "ds_rollup_level_rank",
    tags=("tpcds-shape", "rollup", "window"),
    bench=True,
    oracle=f"""
    WITH base AS (
        SELECT n.n_name AS nation,
               EXTRACT(year FROM o.o_orderdate) AS order_year,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS sales_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY ROLLUP (nation, order_year)
    ), ranked AS (
        SELECT coalesce(nation, 'ALL') AS nation,
               coalesce(order_year, -1) AS order_year,
               CAST(sales_cents AS BIGINT) AS sales_cents,
               (CASE WHEN nation IS NULL THEN 2 ELSE 0 END
                + CASE WHEN order_year IS NULL THEN 1 ELSE 0 END) AS lvl,
               rank() OVER (
                   PARTITION BY (CASE WHEN nation IS NULL THEN 2 ELSE 0 END
                                 + CASE WHEN order_year IS NULL THEN 1 ELSE 0 END)
                   ORDER BY sales_cents DESC, coalesce(nation, 'ALL'),
                            coalesce(order_year, -1)
               ) AS lvl_rank
        FROM base
    )
    SELECT nation, order_year, sales_cents, lvl, lvl_rank
    FROM ranked WHERE lvl_rank <= 5
    ORDER BY lvl, lvl_rank
    """,
)
def ds_rollup_level_rank(spark, sf_dir):
    """DS q67 shape: sales ROLLUP over (nation, year), then rank rows
    WITHIN each grouping level (detail / per-nation / grand total) and
    keep the top-5 of every level.

    Scale: one orders scan; customer join is custkey-hashed, nation
    broadcast; ROLLUP expands each grouped row into 3 — the window then
    runs over the aggregated frame (|nations|·|years| rows), partitioned
    by grouping_id, so the rank shuffle moves grouped rows only.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    o_cents = (
        cents("o_totalprice")
    )
    base = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("order_year"), o_cents.alias("cents"))
        .rollup("nation", "order_year")
        .agg(F.sum("cents").alias("sales_cents"))
    )
    lvl = (
        F.when(F.col("nation").isNull(), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.col("order_year").isNull(), F.lit(1)).otherwise(F.lit(0))
    ).alias("lvl")
    filled = base.select(
        F.coalesce("nation", F.lit("ALL")).alias("nation"),
        F.coalesce("order_year", F.lit(-1)).cast("bigint").alias("order_year"),
        F.col("sales_cents").cast("bigint").alias("sales_cents"),
        lvl,
    )
    w = W.partitionBy("lvl").orderBy(F.desc("sales_cents"), "nation", "order_year")
    return (
        filled.withColumn("lvl_rank", F.rank().over(w))
        .filter(F.col("lvl_rank") <= 5)
        .orderBy("lvl", "lvl_rank")
    )


@register(
    "ds_returns_net",
    tags=("tpcds-shape", "agg", "conditional"),
    bench=True,
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(sum({REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')}) AS BIGINT) AS gross_cents,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN {REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')} ELSE 0 END) AS BIGINT) AS returned_cents,
           CAST(sum({REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')})
                - sum(CASE WHEN l.l_returnflag = 'R' THEN {REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')} ELSE 0 END) AS BIGINT) AS net_cents,
           CAST(floor(CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN {REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')} ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / sum({REV_CENTS_SQL.format(p='l_extendedprice', d='l_discount')})) AS BIGINT) AS return_ppm
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY nation
    ORDER BY nation
    """,
)
def ds_returns_net(spark, sf_dir):
    """DS q93 shape: returns-adjusted net sales per supplier nation —
    gross, returned, net, and the return rate in ppm.

    Scale: ONE lineitem scan; the 'returns channel' is conditional
    aggregation instead of DS's store_returns self-join; supplier and
    nation broadcast; 25 output groups ⇒ map-side partial agg collapses
    virtually all rows before the shuffle.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    rev = rev_cents()
    returned = F.when(F.col("l_returnflag") == "R", rev).otherwise(F.lit(0))
    agg = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).alias("gross_cents"),
            F.sum(returned).alias("returned_cents"),
        )
    )
    return agg.select(
        "nation",
        "gross_cents",
        "returned_cents",
        (F.col("gross_cents") - F.col("returned_cents")).alias("net_cents"),
        ppm("returned_cents", "gross_cents").alias("return_ppm"),
    ).orderBy("nation")


@register(
    "ds_quarterly_share_shift",
    tags=("tpcds-shape", "window", "share"),
    bench=True,
    oracle=f"""
    WITH q AS (
        SELECT n.n_name AS nation,
               CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS quarter,
               sum({CENTS_SQL.format(c='o.o_totalprice')}) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY nation, quarter
    ), shares AS (
        SELECT nation, quarter,
               CAST(floor(CAST(cents AS DOUBLE) * 1000000.0
                          / sum(cents) OVER (PARTITION BY quarter)) AS BIGINT) AS share_ppm
        FROM q
    )
    SELECT nation, quarter, share_ppm,
           lag(share_ppm) OVER (PARTITION BY nation ORDER BY quarter) AS prev_share_ppm,
           share_ppm - lag(share_ppm) OVER (PARTITION BY nation ORDER BY quarter) AS delta_ppm
    FROM shares
    ORDER BY nation, quarter
    """,
)
def ds_quarterly_share_shift(spark, sf_dir):
    """DS q31 shape: each nation's share of quarterly sales, with the
    quarter-over-quarter shift (lag window over the share series).

    Scale: one orders scan into a (nation, quarter) agg — the two windows
    (quarter total, per-nation lag) both run over the grouped frame
    (25·|quarters| rows). Shares are single-division ppm over exact cent
    sums; the delta subtracts two such ints — engine-exact.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    q = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    shares = q.select(
        "nation",
        "quarter",
        ppm("cents", F.sum("cents").over(W.partitionBy("quarter"))).alias("share_ppm"),
    )
    lagw = W.partitionBy("nation").orderBy("quarter")
    return shares.select(
        "nation",
        "quarter",
        "share_ppm",
        F.lag("share_ppm").over(lagw).alias("prev_share_ppm"),
        (F.col("share_ppm") - F.lag("share_ppm").over(lagw)).alias("delta_ppm"),
    ).orderBy("nation", "quarter")


@register(
    "ds_repeat_purchase_gap",
    tags=("tpcds-shape", "window", "lag"),
    bench=True,
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                     ORDER BY o_orderdate, o_orderkey) AS DATE),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    ), per_cust AS (
        SELECT g.o_custkey, sum(g.gap_days) AS sum_gap, count(*) AS n_gaps
        FROM gaps g WHERE g.gap_days IS NOT NULL GROUP BY g.o_custkey
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_repeat_customers,
           CAST(sum(p.sum_gap) AS BIGINT) AS total_gap_days,
           CAST(sum(p.n_gaps) AS BIGINT) AS n_gaps,
           CAST(floor(CAST(sum(p.sum_gap) AS DOUBLE) * 1000000.0 / sum(p.n_gaps)) AS BIGINT) AS avg_gap_microdays
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY segment
    ORDER BY segment
    """,
)
def ds_repeat_purchase_gap(spark, sf_dir):
    """Repeat-purchase cadence (DS CLV family): days between a customer's
    consecutive orders, averaged per market segment.

    Scale: the lag window partitions by custkey over the orders table —
    one shuffle on the analysis key, no fact self-join; the per-customer
    and per-segment aggs are both map-side combinable; customer joins the
    reduced per-customer frame. The average is floor-micro-days over two
    exact BIGINT sums.
    """
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t["orders"]
        .select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.sum("gap_days").alias("sum_gap"), F.count(F.lit(1)).alias("n_gaps")
    )
    return (
        per_cust.join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_repeat_customers"),
            F.sum("sum_gap").cast("bigint").alias("total_gap_days"),
            F.sum("n_gaps").cast("bigint").alias("n_gaps"),
        )
        .select(
            "segment",
            "n_repeat_customers",
            "total_gap_days",
            "n_gaps",
            ppm("total_gap_days", "n_gaps").alias("avg_gap_microdays"),
        )
        .orderBy("segment")
    )


@register(
    "ds_customer_channel_overlap",
    tags=("tpcds-shape", "setop", "conditional"),
    oracle=f"""
    WITH flags AS (
        SELECT o_custkey,
               max(CASE WHEN {_HIGH} THEN 1 ELSE 0 END) AS hi,
               max(CASE WHEN NOT ({_HIGH}) THEN 1 ELSE 0 END) AS lo
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(sum(CASE WHEN hi = 1 AND lo = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
           CAST(sum(CASE WHEN hi = 1 AND lo = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_high,
           CAST(sum(CASE WHEN hi = 0 AND lo = 1 THEN 1 ELSE 0 END) AS BIGINT) AS only_low
    FROM flags
    """,
)
def ds_customer_channel_overlap(spark, sf_dir):
    """DS q97 shape: how many customers buy in both 'channels' (high- and
    low-priority orders) vs only one. DS writes this as a FULL OUTER JOIN
    of two channel subqueries; per-customer conditional flags need ONE
    orders scan and no join at all — the Spark-first rewrite.

    Scale: groupBy custkey with two max() flags (map-side combinable),
    then a single global conditional count — one shuffle total, second
    stage reduces to 1 row.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    flags = o.groupBy("o_custkey").agg(
        F.max(F.when(high, 1).otherwise(0)).alias("hi"),
        F.max(F.when(~high, 1).otherwise(0)).alias("lo"),
    )
    return flags.agg(
        F.sum(F.when((F.col("hi") == 1) & (F.col("lo") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("both_channels"),
        F.sum(F.when((F.col("hi") == 1) & (F.col("lo") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("only_high"),
        F.sum(F.when((F.col("hi") == 0) & (F.col("lo") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("only_low"),
    )


@register(
    "ds_ntile_spend_bands",
    tags=("tpcds-shape", "window", "ntile"),
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, sum({CENTS_SQL.format(c='o_totalprice')}) AS cents
        FROM orders GROUP BY o_custkey
    ), banded AS (
        SELECT o_custkey, cents,
               ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS band
        FROM spend
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS band_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM banded GROUP BY band ORDER BY band
    """,
)
def ds_ntile_spend_bands(spark, sf_dir):
    """DS q49/q98 shape: quartile spend bands — customers ntile(4)'d by
    lifetime spend, with per-band volume and boundaries.

    Scale: per-customer spend is one map-side-combinable agg; ntile needs
    a total order, which Spark executes as a single-partition window over
    the GROUPED frame (|customers| rows, not fact rows) — the honest cost
    of an exact global quantile. At 100 TB you'd swap ntile for
    approx percentile boundaries + a broadcast band join; this entry keeps
    the exact semantics the oracle can verify. The (cents DESC, custkey)
    order is total, so band assignment is deterministic on both engines.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("cents")
    )
    banded = spend.withColumn(
        "band", F.ntile(4).over(W.orderBy(F.desc("cents"), "o_custkey"))
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("band_cents"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )
        .orderBy("band")
    )
