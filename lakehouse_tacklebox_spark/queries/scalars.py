"""Scalar-function battery: SURVEY.md §2.8 (strings, dates, JSON, CASE,
arrays, math).

Reference parity: concat/split/sha (deltaoptimizer.py:1118-1121, 969),
date_trunc/datediff (Step 4:11, 01.5:256-258), JSON-path extraction
(Step 1:318-322), CASE scoring (deltaoptimizer.py:1771-1781), array
functions (deltaoptimizer.py:1111-1131).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import disc_price, dmoney, drate, dsum_dbl
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables


@register(
    "scalar_strings",
    tags=("scalar",),
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_upper,
           lower(p_type)                                    AS type_lower,
           length(p_name)                                   AS name_len,
           concat_ws('|', p_brand, p_type)                  AS brand_type,
           string_split(p_name, ' ')[1]                     AS first_word,
           regexp_replace(p_name, '[aeiou]', '', 'g')       AS name_novowels,
           substr(p_name, 1, 8)                             AS name_prefix,
           sha256(p_name)                                   AS name_sha
    FROM part
    WHERE p_partkey <= 500
    """,
)
def scalar_strings(spark, sf_dir):
    """String function battery over part names."""
    p = load_tables(spark, sf_dir, ["part"])["part"]
    return p.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowels"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.sha2(F.col("p_name"), 256).alias("name_sha"),
    )


@register(
    "scalar_dates",
    tags=("scalar", "time"),
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                        AS order_year,
           CAST(month(o_orderdate) AS INT)                       AS order_month,
           CAST(day(o_orderdate) AS INT)                         AS order_day,
           CAST(date_trunc('month', o_orderdate) AS DATE)        AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey <= 1000
    """,
)
def scalar_dates(spark, sf_dir):
    """Date/time function battery over order dates."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    od = F.col("o_orderdate")
    return o.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.year(od).alias("order_year"),
        F.month(od).alias("order_month"),
        F.dayofmonth(od).alias("order_day"),
        F.date_trunc("month", od).cast("date").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), od.cast("date")).alias("days_to_y2k"),
        F.date_add(od.cast("date"), 30).alias("due_date"),
    )


@register(
    "scalar_json",
    tags=("scalar", "json"),
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           count(*)             AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def scalar_json(spark, sf_dir):
    """JSON-path extraction from a string column (Step 1:318-322
    `value:user_id::integer` semantics) + grouped rollup."""
    e = load_tables(spark, sf_dir, ["events"])["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.groupBy((k % 10).alias("k_mod")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum_dbl(dmoney("value")).alias("total_value"),
    )


@register(
    "scalar_case_score",
    tags=("scalar",),
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END                      AS bal_band,
           CAST(CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE') THEN 2.0
                WHEN c_mktsegment = 'MACHINERY' THEN 1.5
                ELSE 1.0 END
             * CASE WHEN c_acctbal > 5000 THEN 2 ELSE 1 END AS DOUBLE) AS segment_score,
           coalesce(NULLIF(c_mktsegment, 'HOUSEHOLD'), 'OTHER') AS segment_or_other
    FROM customer
    """,
)
def scalar_case_score(spark, sf_dir):
    """CASE-expression scoring (deltaoptimizer.py:1771-1781 shape) with
    coalesce/nullif null handling."""
    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "negative").when(bal < 3000, "low").when(bal < 7000, "mid").otherwise("high").alias("bal_band"),
        (
            F.when(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), 2.0)
            .when(F.col("c_mktsegment") == "MACHINERY", 1.5)
            .otherwise(1.0)
            * F.when(bal > 5000, 2).otherwise(1)
        ).alias("segment_score"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("HOUSEHOLD")), F.lit("OTHER")).alias("segment_or_other"),
    )


@register(
    "scalar_math",
    tags=("scalar", "math"),
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(7,4)) * CAST(1 + l_tax AS DECIMAL(7,4)), 2) AS DOUBLE) AS charged,
           round(abs(l_discount - 0.05), 4)                           AS disc_dev,
           round(power(l_quantity, 2), 2)                             AS qty_sq,
           round(sqrt(l_extendedprice), 4)                            AS price_sqrt,
           CAST(ceil(l_extendedprice / 100.0) AS BIGINT)              AS price_century,
           round(ln(l_extendedprice + 1), 6)                          AS log_price
    FROM lineitem
    WHERE l_orderkey <= 2000
    """,
)
def scalar_math(spark, sf_dir):
    """Arithmetic/math function battery."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    price = F.col("l_extendedprice")
    return li.filter(F.col("l_orderkey") <= 2000).select(
        "l_orderkey",
        "l_linenumber",
        F.round(disc_price() * drate(F.lit(1) + F.col("l_tax")), 2).cast("double").alias("charged"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.round(F.pow(F.col("l_quantity"), 2), 2).alias("qty_sq"),
        F.round(F.sqrt(price), 4).alias("price_sqrt"),
        F.ceil(price / 100.0).cast("bigint").alias("price_century"),
        F.round(F.log(price + 1), 6).alias("log_price"),
    )


@register(
    "scalar_array_ops",
    tags=("scalar", "array"),
    oracle="""
    SELECT vec_id,
           len(embedding)                                        AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6)                AS first_elem,
           round(list_sum(CAST(embedding AS DOUBLE[])), 4)       AS vec_sum,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2_norm,
           label
    FROM embeddings
    """,
)
def scalar_array_ops(spark, sf_dir):
    """Array-column functions over embeddings: size, indexing, aggregate
    (fold) sum, L2 norm via zip_with dot product."""
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(v, 1), 6).alias("first_elem"),
        F.round(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 4).alias("vec_sum"),
        F.round(F.sqrt(dot), 4).alias("l2_norm"),
        "label",
    )
