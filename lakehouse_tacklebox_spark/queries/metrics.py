"""Observability metrics battery (SURVEY.md §2.12 V11/V12).

V11 (dbsql-logging/04-Metrics.sql:28-261): error-classification CASE,
rank-dedup "latest snapshot per entity", per-entity CTE join, top-k by
spend — recast over the events table as the ops-metrics rollup.

V12 (dlt-loans/03-Log-Analysis.sql:76-104): event-log analytics — JSON
path extraction + from_json + explode over semi-structured event
payloads; the engine side round-trips through real JSON parsing while
the oracle computes the same values relationally, so the JSON machinery
itself is what's being verified.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import ppm
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables


@register(
    "metrics_ops_summary",
    tags=("metrics", "window"),
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
               round(100.0 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) / count(*), 4) AS error_pct
        FROM events GROUP BY user_id
    ),
    latest AS (
        SELECT user_id, event_type AS last_event_type
        FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT p.user_id, n_events, total_value, n_errors, error_pct, last_event_type
    FROM per_user p JOIN latest l ON p.user_id = l.user_id
    ORDER BY total_value DESC, p.user_id
    LIMIT 20
    """,
)
def metrics_ops_summary(spark, sf_dir):
    """Ops metrics rollup: per-user aggregates + rank-dedup latest
    snapshot + top-20 by spend (04-Metrics.sql:30-59 shapes)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("n_errors"),
        F.round(F.lit(100.0) * F.sum((F.col("event_type") == "error").cast("int")) / F.count(F.lit(1)), 4).alias("error_pct"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("last_event_type"))
    )
    return (
        per_user.join(latest, "user_id")
        .select("user_id", "n_events", "total_value", "n_errors", "error_pct", "last_event_type")
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .limit(20)
    )


@register(
    "metrics_percentiles",
    tags=("metrics", "percentile"),
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           round(max(value), 4) AS p_max
    FROM events GROUP BY event_type
    """,
)
def metrics_percentiles(spark, sf_dir):
    """Latency-style percentile report (04-Metrics.sql duration
    percentiles shape): exact interpolated percentiles per group. At
    100 TB swap percentile → approx_percentile (t-digest, mergeable
    partials) — same plan shape, bounded state."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.round(F.max("value"), 4).alias("p_max"),
    )


@register(
    "event_log_json_analytics",
    tags=("metrics", "json"),
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def event_log_json_analytics(spark, sf_dir):
    """Event-log analytics through real JSON machinery: serialize each
    event to a JSON document (to_json), then recover fields via
    get_json_object path extraction + from_json struct parsing + explode
    of the details array (dlt-loans/03-Log-Analysis.sql:76-104 flow).
    The oracle computes the same numbers relationally — parity proves
    the JSON round-trip is lossless."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    # build the event-log document: {"event_type": ..., "details": {"metrics": [{"k": ..., "value": ...}]}}
    doc = ev.select(
        F.to_json(
            F.struct(
                F.col("event_type"),
                F.struct(
                    F.array(
                        F.struct(
                            F.from_json("props", "k int").getField("k").alias("k"),
                            F.col("value"),
                        )
                    ).alias("metrics")
                ).alias("details"),
            )
        ).alias("doc")
    )
    parsed = doc.select(
        F.get_json_object("doc", "$.event_type").alias("event_type"),
        F.from_json(
            F.get_json_object("doc", "$.details"),
            "metrics array<struct<k:int, value:double>>",
        ).alias("details"),
    )
    exploded = parsed.select("event_type", F.explode("details.metrics").alias("m"))
    return exploded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("m.k").cast("bigint").alias("sum_k"),
        F.round(F.avg("m.k"), 4).alias("avg_k"),
        F.round(F.sum("m.value"), 2).alias("total_value"),
    )


@register(
    "metrics_error_classes",
    tags=("metrics", "classification"),
    oracle="""
    WITH classified AS (
        SELECT CASE
                 WHEN contains(text, 'merge') AND contains(text, 'join') THEN 'merge-join'
                 WHEN contains(text, 'scan') AND contains(text, 'window') THEN 'scan-window'
                 WHEN contains(text, 'stream') THEN 'stream'
                 WHEN contains(text, 'hash') THEN 'hash'
                 WHEN contains(text, 'sort') THEN 'sort'
                 ELSE 'other'
               END AS doc_class,
               n_chars
        FROM documents
    ),
    totals AS (SELECT count(*) AS n_total FROM classified)
    SELECT doc_class,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(100.0 * count(*) / n_total, 4) AS pct_of_docs
    FROM classified, totals
    GROUP BY doc_class, n_total
    ORDER BY n_docs DESC, doc_class
    """,
)
def metrics_error_classes(spark, sf_dir):
    """Error-classification report shape (04-Metrics.sql:114-133): a
    multi-branch CASE over substring tests buckets each record into a
    failure class, then per-class counts + share-of-total. Recast over
    the documents table (the gate's oracle only sees the testdata
    views); branch order is significant, exactly as in the reference's
    CASE chain."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    doc_class = (
        F.when(F.col("text").contains("merge") & F.col("text").contains("join"), "merge-join")
        .when(F.col("text").contains("scan") & F.col("text").contains("window"), "scan-window")
        .when(F.col("text").contains("stream"), "stream")
        .when(F.col("text").contains("hash"), "hash")
        .when(F.col("text").contains("sort"), "sort")
        .otherwise("other")
    )
    classified = docs.select(doc_class.alias("doc_class"), "n_chars")
    per_class = classified.groupBy("doc_class").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    totals = classified.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        per_class.crossJoin(F.broadcast(totals))
        .select(
            "doc_class",
            "n_docs",
            "total_chars",
            F.round(F.lit(100.0) * F.col("n_docs") / F.col("n_total"), 4).alias("pct_of_docs"),
        )
        .orderBy(F.col("n_docs").desc(), "doc_class")
    )


@register(
    "metrics_user_activity",
    tags=("metrics", "cte-join"),
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               count(*) AS n_queries,
               sum(CAST(round(value * 100) AS BIGINT)) AS total_cents
        FROM events GROUP BY user_id
    ),
    errors AS (
        SELECT user_id,
               count(*) AS n_errors,
               sum(CAST(round(value * 100) AS BIGINT)) AS error_cents
        FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT p.user_id,
           n_queries,
           COALESCE(n_errors, 0) AS n_errors,
           round(100.0 * COALESCE(n_errors, 0) / n_queries, 4) AS error_pct,
           round(total_cents / 100.0, 2) AS total_value,
           round(COALESCE(error_cents, 0) / 100.0, 2) AS error_value,
           round(100.0 * COALESCE(error_cents, 0) / total_cents, 4) AS error_value_pct
    FROM per_user p LEFT JOIN errors e ON p.user_id = e.user_id
    ORDER BY error_pct DESC, p.user_id
    """,
)
def metrics_user_activity(spark, sf_dir):
    """Per-user failure-rate report (04-Metrics.sql:247-261 shape): two
    aggregate CTEs — all activity vs error-only — joined per user, with
    count-share and spend-share ratios. Sums run on exact integer cents
    so both engines divide identical integers (doubles would drift at
    half-cent boundaries); users with no errors survive the left join
    with zeros."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_queries"), F.sum(cents).alias("total_cents")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"), F.sum(cents).alias("error_cents"))
    )
    return (
        per_user.join(errors, "user_id", "left")
        .select(
            "user_id",
            "n_queries",
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
            F.round(F.lit(100.0) * F.coalesce("n_errors", F.lit(0)) / F.col("n_queries"), 4).alias("error_pct"),
            F.round(F.col("total_cents") / 100.0, 2).alias("total_value"),
            F.round(F.coalesce("error_cents", F.lit(0)) / 100.0, 2).alias("error_value"),
            F.round(F.lit(100.0) * F.coalesce("error_cents", F.lit(0)) / F.col("total_cents"), 4).alias("error_value_pct"),
        )
        .orderBy(F.col("error_pct").desc(), "user_id")
    )


@register(
    "metrics_top_durations",
    tags=("metrics", "topk"),
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(ts AS DATE) AS event_day,
           round(value, 2) AS duration,
           rank() OVER (ORDER BY CAST(round(value * 100) AS BIGINT) DESC) AS duration_rank
    FROM events
    ORDER BY duration_rank, event_id
    LIMIT 100
    """,
)
def metrics_top_durations(spark, sf_dir):
    """Top-100 longest-duration report (04-Metrics.sql top-duration
    shape): global rank over duration with a deterministic event_id
    tie-break on the final sort. Ranking runs on integer cents so both
    engines rank identical values; at 100 TB the same plan is a
    WindowGroupLimit top-k — no full sort materializes."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    ranked = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("date").alias("event_day"),
        F.round("value", 2).alias("duration"),
        F.rank()
        .over(Window.orderBy(F.round(F.col("value") * 100).cast("long").desc()))
        .alias("duration_rank"),
    )
    # rank <= 100 keeps every candidate for the final tie-broken LIMIT and
    # lets Catalyst insert a WindowGroupLimit: each input partition keeps
    # only its local top-100 BEFORE the single-partition window, so the
    # global sort sees O(partitions * 100) rows, not the table.
    return (
        ranked.filter(F.col("duration_rank") <= 100)
        .orderBy("duration_rank", "event_id")
        .limit(100)
    )


@register(
    "metrics_cost_efficiency",
    tags=("metrics", "ratio", "topk"),
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS units,
           CAST(round(value * 100) AS BIGINT) AS cents,
           round(CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)
                 / CAST(json_extract_string(props, '$.k') AS BIGINT), 4) AS cents_per_unit
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 0
      AND CAST(round(value * 100) AS BIGINT) > 5000
    ORDER BY cents_per_unit ASC, event_id
    LIMIT 20
    """,
)
def metrics_cost_efficiency(spark, sf_dir):
    """Ratio-threshold report (04-Metrics.sql:72-85 'long-running without
    Photon' shape): derive a ratio from two measures, keep rows above an
    absolute floor AND passing the ratio cut, order by the ratio with a
    deterministic tie-break, top-20. Ratio inputs are exact integers
    (units from the JSON payload, money as cents) so both engines divide
    identical values."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    units = F.from_json("props", "k bigint").getField("k")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            units.alias("units"),
            cents.alias("cents"),
        )
        .filter((F.col("units") > 0) & (F.col("cents") > 5000))
        .withColumn(
            "cents_per_unit",
            F.round(F.col("cents").cast("double") / F.col("units"), 4),
        )
        .orderBy(F.col("cents_per_unit").asc(), "event_id")
        .limit(20)
    )


@register(
    "metrics_activity_heatmap",
    tags=("metrics", "time"),
    oracle="""
    SELECT CAST(extract(dow FROM ts) AS INTEGER) AS dow,
           CAST(extract(hour FROM ts) AS INTEGER) AS hod,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY dow, hod
    ORDER BY dow, hod
    """,
)
def metrics_activity_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity heatmap (the metrics pack's
    usage-over-time reports). Spark's dayofweek is 1-based Sunday=1;
    DuckDB's extract(dow) is 0-based Sunday=0 — normalize to the 0-based
    form on the Spark side. Exact integer counts and cents."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return (
        ev.groupBy(
            (F.dayofweek("ts") - F.lit(1)).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("dow", "hod")
    )


@register(
    "metrics_daily_trend",
    tags=("metrics", "trend", "window"),
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM events GROUP BY 1
    )
    SELECT day, n_events, total_cents,
           lag(n_events) OVER (ORDER BY day) AS prev_events,
           CAST(n_events - lag(n_events) OVER (ORDER BY day) AS BIGINT) AS delta_events,
           round(100.0 * (n_events - lag(n_events) OVER (ORDER BY day))
                 / lag(n_events) OVER (ORDER BY day), 4) AS pct_change
    FROM daily
    """,
)
def metrics_daily_trend(spark, sf_dir):
    """Day-over-day trend report (the metrics pack's usage-trend shape):
    daily totals with lag deltas and percent change. The window runs over
    the aggregated daily frame (≤ a few thousand rows regardless of fact
    size), so the unpartitioned ordering is not a scale hazard; the pct
    arithmetic is integer-ratio → one rounded division."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    w = Window.orderBy("day")
    prev = F.lag("n_events").over(w)
    return daily.select(
        "day",
        "n_events",
        "total_cents",
        prev.alias("prev_events"),
        (F.col("n_events") - prev).cast("bigint").alias("delta_events"),
        F.round(F.lit(100.0) * (F.col("n_events") - prev) / prev, 4).alias("pct_change"),
    )


@register(
    "metrics_error_bursts",
    tags=("metrics", "anomaly", "window"),
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_start,
               count(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1
    ), scored AS (
        SELECT hour_start, n_errors,
               avg(n_errors) OVER (ORDER BY hour_start
                                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trailing_avg
        FROM hourly
    )
    SELECT hour_start, n_errors,
           round(trailing_avg, 4) AS trailing_avg,
           CAST(CASE WHEN trailing_avg IS NOT NULL
                          AND n_errors > 2.0 * trailing_avg THEN 1 ELSE 0 END AS BOOLEAN) AS burst
    FROM scored
    """,
)
def metrics_error_bursts(spark, sf_dir):
    """Error-burst detection (ops anomaly report): hourly error counts
    flagged when exceeding 2× the trailing-24h average. The frame window
    runs over the hourly aggregate (bounded rows), and the burst rule
    compares an integer count against a rounded trailing mean — the
    comparison itself uses the unrounded mean on both engines."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    hourly = ev.filter(F.col("event_type") == "error").groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_errors"))
    w = Window.orderBy("hour_start").rowsBetween(-24, -1)
    trailing = F.avg("n_errors").over(w)
    return hourly.select(
        "hour_start",
        "n_errors",
        F.round(trailing, 4).alias("trailing_avg"),
        (trailing.isNotNull() & (F.col("n_errors") > 2.0 * trailing)).alias("burst"),
    )


@register(
    "events_funnel_stages",
    tags=("metrics", "funnel", "sequence"),
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
                          AND e.ts <= s1.t1 + INTERVAL 24 HOURS
        WHERE e.event_type = 'click'
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
                          AND e.ts <= s2.t2 + INTERVAL 24 HOURS
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ), counts AS (
        SELECT (SELECT count(*) FROM s1) AS n1,
               (SELECT count(*) FROM s2) AS n2,
               (SELECT count(*) FROM s3) AS n3
    )
    SELECT stage, n_users, conv_vs_stage1_ppm FROM (
        SELECT '1_view' AS stage, CAST(n1 AS BIGINT) AS n_users,
               CAST(1000000 AS BIGINT) AS conv_vs_stage1_ppm, 1 AS ord FROM counts
        UNION ALL
        SELECT '2_click_after_view', CAST(n2 AS BIGINT),
               CAST(floor(CAST(n2 AS DOUBLE) * 1000000.0 / n1) AS BIGINT), 2 FROM counts
        UNION ALL
        SELECT '3_purchase_after_click', CAST(n3 AS BIGINT),
               CAST(floor(CAST(n3 AS DOUBLE) * 1000000.0 / n1) AS BIGINT), 3 FROM counts
    ) ORDER BY ord
    """,
)
def events_funnel_stages(spark, sf_dir):
    """Staged funnel conversion (product-analytics core): users whose
    first 'view' is followed by a first 'click' WITHIN 24 HOURS, then a
    first 'purchase' within 24 hours of that click — each stage anchored
    strictly after the previous stage's event with a conversion
    deadline (the corpus converts ~40%/~17% at these bounds, so the
    report discriminates), reported as stage counts with conversion ppm
    vs stage 1.

    Scale: each stage is a (user → min ts) aggregate of a type-filtered
    event scan, joined to the PREVIOUS stage's per-user frame with the
    strict ts bound — the per-user frames scale with |users| (no
    broadcast hint; AQE broadcasts at bench SF, shuffle-joins at
    100 TB), and the fact is scanned once per stage with the type
    predicate pushed. Sequence detection as staged aggregation — no
    per-user event sorting, no window over the raw fact.
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    counts = n1.join(n2).join(n3)
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view").alias("stage"),
                    F.col("n1").cast("bigint").alias("n_users"),
                    F.lit(1000000).cast("bigint").alias("conv_vs_stage1_ppm"),
                ),
                F.struct(
                    F.lit("2_click_after_view").alias("stage"),
                    F.col("n2").cast("bigint").alias("n_users"),
                    ppm("n2", "n1").alias("conv_vs_stage1_ppm"),
                ),
                F.struct(
                    F.lit("3_purchase_after_click").alias("stage"),
                    F.col("n3").cast("bigint").alias("n_users"),
                    ppm("n3", "n1").alias("conv_vs_stage1_ppm"),
                ),
            )
        ).alias("s")
    )
    return stages.select("s.stage", "s.n_users", "s.conv_vs_stage1_ppm").orderBy("stage")


@register(
    "metrics_anomaly_days",
    tags=("metrics", "anomaly", "quality"),
    # |z| > 2 as PURE INTEGER algebra: (n·c − S)²·(n−1) > 4·(n·Q − S²)·n
    # is (c − mean)² > 4·sample-variance with both sides multiplied by
    # n²(n−1) — no float mean/stddev whose rounding could flip a
    # borderline day differently per engine. Gate data: 3 of ~150
    # (type, day) cells flag — discriminating, not vacuous.
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n_events) AS BIGINT) AS s_sum,
               CAST(sum(n_events * n_events) AS BIGINT) AS s_sq
        FROM d GROUP BY 1
    )
    SELECT d.event_type, d.day, d.n_events, s.n_days
    FROM d JOIN s USING (event_type)
    WHERE s.n_days > 1
      AND (s.n_days * d.n_events - s.s_sum) * (s.n_days * d.n_events - s.s_sum)
            * (s.n_days - 1)
          > 4 * (s.n_days * s.s_sq - s.s_sum * s.s_sum) * s.n_days
    ORDER BY d.event_type, d.day
    """,
)
def metrics_anomaly_days(spark, sf_dir):
    """Volume-anomaly detection over the event stream: flag every
    (event_type, day) whose count sits more than two sample standard
    deviations from that type's daily mean — the data-quality tripwire
    a pipeline runs before trusting a day's ingest. The z² test is
    cleared of floats entirely ((n·c − S)²·(n−1) > 4·(n·Q − S²)·n, all
    bigint), so the flag decision is bit-identical across engines; at
    counts beyond ~10⁸/day the quadratics outgrow int64 and the same
    expressions lift to decimal(38,0) — documented dial, same algebra.
    Plan: one partial-agg census per (type, day), a per-type 1-row
    stats reduction, broadcast join back — no second fact scan."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    d = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_events").cast("bigint").alias("s_sum"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("s_sq"),
    )
    dev = F.col("n_days") * F.col("n_events") - F.col("s_sum")
    return (
        d.join(F.broadcast(s), "event_type")
        .filter(
            (F.col("n_days") > 1)
            & (
                dev * dev * (F.col("n_days") - 1)
                > F.lit(4) * (F.col("n_days") * F.col("s_sq") - F.col("s_sum") * F.col("s_sum")) * F.col("n_days")
            )
        )
        .select("event_type", "day", "n_events", "n_days")
        .orderBy("event_type", "day")
    )


@register(
    "events_funnel_ordered",
    bench=True,
    tags=("events", "funnel", "analytics"),
    # The BATCH ordered funnel (first-occurrence semantics, the
    # product-analytics standard): a user is at step k when their
    # earliest step-k event STRICTLY AFTER their step-(k-1) completion
    # time exists — ordering is part of the predicate, which plain
    # per-type EXISTS counting (and symmetric join entries) cannot
    # express. Completes the funnel pair with stream_funnel_stages (the
    # stateful streaming formulation): same view->click->purchase
    # ladder, batch semantics made exact and engine-replayable —
    # integer second gaps, DIV means, ppm conversions, no floats.
    oracle="""
    WITH u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n0 FROM events),
    v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3, min(c.t2) AS t2
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY 1
    ),
    s AS (
        SELECT 1 AS step, 'view' AS event_type,
               CAST(count(*) AS BIGINT) AS n_users, CAST(0 AS BIGINT) AS sum_gap
        FROM v
        UNION ALL
        SELECT 2, 'click', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(date_diff('second', t1, t2)), 0) AS BIGINT)
        FROM c
        UNION ALL
        SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(date_diff('second', t2, t3)), 0) AS BIGINT)
        FROM p
    )
    SELECT CAST(step AS BIGINT) AS step, event_type, n_users,
           CAST(CASE WHEN n_users > 0 THEN sum_gap // n_users ELSE 0 END AS BIGINT)
               AS mean_gap_s,
           CAST(n_users * 1000000 //
                coalesce(lag(n_users) OVER (ORDER BY step), (SELECT n0 FROM u))
               AS BIGINT) AS conv_ppm
    FROM s ORDER BY step
    """,
)
def events_funnel_ordered(spark, sf_dir):
    """Strictly-ordered view→click→purchase funnel over the event log:
    per step, users reached (earliest qualifying progression), mean
    seconds from the previous step (integer DIV), and conversion from
    the previous step in ppm (step 1 converts from all active users).
    Scale shape: one min-per-user aggregate for step 1, then each later
    step is one type-filtered scan joined to the (user, completion-time)
    frame of the step before — all shuffles key on user_id with
    map-side combine, frames shrink monotonically down the funnel, and
    the final 3-row union + lag window is constant work. At 100 TB
    this is k scans of the type-partitioned log, never a per-user
    collect or a cross join — the batch complement of
    stream_funnel_stages' monotone-stage state machine."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    n0 = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n0"))

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )

    s1 = v.agg(
        F.lit(1).cast("bigint").alias("step"),
        F.lit("view").alias("event_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.lit(0).cast("bigint").alias("sum_gap"),
    )
    s2 = c.agg(
        F.lit(2).cast("bigint").alias("step"),
        F.lit("click").alias("event_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.coalesce(
            F.sum(F.unix_timestamp("t2") - F.unix_timestamp("t1")), F.lit(0)
        ).cast("bigint").alias("sum_gap"),
    )
    s3 = p.agg(
        F.lit(3).cast("bigint").alias("step"),
        F.lit("purchase").alias("event_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.coalesce(
            F.sum(F.unix_timestamp("t3") - F.unix_timestamp("t2")), F.lit(0)
        ).cast("bigint").alias("sum_gap"),
    )
    s = s1.unionByName(s2).unionByName(s3).crossJoin(F.broadcast(n0))
    w = Window.orderBy("step")
    return (
        s.withColumn(
            "mean_gap_s",
            F.when(
                F.col("n_users") > 0, F.expr("sum_gap DIV n_users")
            ).otherwise(F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "conv_ppm",
            F.expr(
                "CAST(n_users * CAST(1000000 AS BIGINT) DIV"
                " coalesce(lag(n_users) OVER (ORDER BY step), n0) AS BIGINT)"
            ),
        )
        .select("step", "event_type", "n_users", "mean_gap_s", "conv_ppm")
        .orderBy("step")
    )


@register(
    "metrics_trend_slope",
    bench=True,
    tags=("metrics", "observability", "regression"),
    # Least-squares trend slope per event type over its daily counts —
    # "is the error rate trending up" as a NUMBER, not a chart. The
    # closed form slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is a ratio
    # of BIGINTs when x = epoch-day index and y = daily count, so the
    # report emits numerator, denominator, and slope in integer ppm
    # (events/day/day * 1e6) — engine-exact, no float covariance. The
    # intercept is emitted the same way. One aggregate over (type,
    # day), then one aggregate over types: two map-side-combining
    # shuffles at any scale.
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events
        GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM daily GROUP BY 1
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
               AS slope_ppm,
           CAST((sy * sxx - sx * sxy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
               AS intercept_ppm
    FROM s
    ORDER BY event_type
    """,
)
def metrics_trend_slope(spark, sf_dir):
    """Per-event-type daily-count trend: exact integer least squares
    over (epoch-day, count) pairs, reporting the slope as a BIGINT
    ratio plus ppm — the observability readout that turns "eyeball the
    dashboard" into a comparable number. Closed form keeps everything
    in integer sums (no float covariance, no per-engine rounding);
    floor division matches the oracle exactly. Scale: one (type, day)
    census then one per-type fold — both map-side combining; no window,
    no collect."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return s.select(
        "event_type",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
        F.expr(
            "CAST((n * sxy - sx * sy) * CAST(1000000 AS BIGINT)"
            " DIV (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            "CAST((sy * sxx - sx * sxy) * CAST(1000000 AS BIGINT)"
            " DIV (n * sxx - sx * sx) AS BIGINT)"
        ).alias("intercept_ppm"),
    ).orderBy("event_type")
