"""Streaming battery entries: real Structured Streaming jobs whose final
result is oracle-comparable against the batch equivalent (the unified-
batch-and-streaming claim, Step 5 of the reference's EDW series, as a
verifiable statement). Entries take one of two paths:

- Stateful operators (windows, stream-stream joins, dedup, funnels)
  read the testdata parquet via ``readStream``, run to completion with
  ``trigger(availableNow=True)`` into a memory sink
  (``_run_memory_sink``), and return the sink table.
- Materialized views (the ``*_mv`` entries) chunk their source and
  hand it to ``streaming.mv.run_mv``, which applies each micro-batch to
  TackleTables under ``txn`` stamps and replays it once in-batch to
  prove the apply idempotent; the entry returns the read-back tables.

Either way the correctness gate checks the streamed result against
DuckDB's batch answer exactly.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.functions import cents, ppm, rev_cents
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast, normalize_event_ts
from lakehouse_tacklebox_spark.queries import fixtures as FX
from lakehouse_tacklebox_spark.streaming.windows import windowed_agg


def _run_memory_sink(spark, df, mode, prefix, shuffle_partitions=16):
    """Run a streaming DF to completion into a memory sink.

    State-store partition count follows ``spark.sql.shuffle.partitions``
    at query start — a per-job sizing decision in any real deployment
    (match partitions to key cardinality/throughput, not the session
    default). The gate corpus has O(100) keys, so a vanilla 200-partition
    session would spend its time opening 200 state stores; size down for
    the stream, then restore the session conf.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a query that outlives the deadline must NOT keep running:
            # a zombie stream poisons every later timing in the session
            # and the sink would silently read partial results
            q.stop()
            raise TimeoutError(f"stream {sink} exceeded the 300s deadline")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "stream_hourly_rollup",
    tags=("streaming", "window"),
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_rollup(spark, sf_dir):
    """Event-time tumbling-window rollup executed AS A STREAM (availableNow
    → memory sink), returned for batch comparison: streaming and batch
    answers must be identical."""
    stream = _events_stream(spark, sf_dir)
    rolled = windowed_agg(
        stream,
        "ts",
        "1 hour",
        aggs=[F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")],
        keys=["event_type"],
        watermark="1 minute",
    )
    return _run_memory_sink(
        spark,
        rolled.select("window_start", "event_type", "n", "total"),
        "complete",
        "stream_rollup",
    )


def _events_stream(spark, sf_dir):
    """Streaming read of events.parquet with the same ts normalization as
    the batch path. The stream schema must match the RAW parquet layout
    (nanos→long under nanosAsLong, or micros→TIMESTAMP_NTZ), so take it
    from a batch scan of the same file, then normalize."""
    import os

    load_tables(spark, sf_dir, [])  # sets nanos/UTC confs only
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


@register(
    "stream_stateful_dedup",
    tags=("streaming", "stateful", "dedup"),
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_stateful_dedup(spark, sf_dir):
    """First event per user via the applyInPandasWithState dedup operator,
    executed as a real stream: per-key state answers "seen before?"
    without rescanning the sink (the scale path for ingest dedup — state
    lives with the shuffle partition, not in a merge target). The batch
    oracle is the row_number()=1 window, so the stateful answer must
    equal the relational one exactly."""
    from lakehouse_tacklebox_spark.streaming.stateful import stateful_dedup

    stream = _events_stream(spark, sf_dir).select("user_id", "event_id", "ts", "event_type")
    out = stateful_dedup(stream, keys=["user_id"], order_by=["ts", "event_id"])
    return _run_memory_sink(spark, out, "append", "stateful_dedup")


@register(
    "stream_stateful_dedup_tws",
    tags=("streaming", "stateful", "dedup"),
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_stateful_dedup_tws(spark, sf_dir):
    """First event per user via the SPARK-4 typed-state API
    (``transformWithStateInPandas``, value state in RocksDB with native
    TTL support) — the modern twin of ``stream_stateful_dedup``: same
    stream, same deterministic ordering contract, same batch oracle, so
    the gate certifies that BOTH stateful APIs equal the relational
    row_number()=1 answer. transformWithState is the API a production
    100 TB stateful pipeline targets on Spark 4 (named typed state
    variables, timers, state-schema evolution, RocksDB changelog
    checkpointing); restart and timer semantics are pinned in
    tests/test_stateful.py."""
    from lakehouse_tacklebox_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        ensure_tws_runtime,
        tws_dedup,
    )

    ensure_tws_runtime(spark)
    stream = _events_stream(spark, sf_dir).select("user_id", "event_id", "ts", "event_type")
    out = tws_dedup(stream, keys=["user_id"], order_by=["ts", "event_id"])
    # The engine requires the RocksDB provider for transformWithState;
    # scope it to this query and restore the session conf after.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        return _run_memory_sink(spark, out, "append", "tws_dedup")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@register(
    "stream_stateful_user_stats",
    tags=("streaming", "stateful", "agg"),
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark, sf_dir):
    """Cumulative per-user running totals via the stateful running-agg
    operator. Money is pre-scaled to integer cents JVM-side so the
    pandas-side accumulation is exact (int64 in float64 ≤ 2^53), then
    cast back — the streaming total must equal DuckDB's batch SUM."""
    from lakehouse_tacklebox_spark.streaming.stateful import stateful_running_agg

    stream = _events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = stateful_running_agg(stream, keys=["user_id"], value_col="cents")
    sink = _run_memory_sink(spark, out, "update", "stateful_stats")
    # The memory sink APPENDS update-mode emissions, so a key that appears
    # in k micro-batches has k rows (k-1 intermediate running totals + the
    # final one). Keep only the final emission per key — n_events is
    # strictly increasing within a key — so the result is identical no
    # matter how the source was split into batches.
    latest = sink.groupBy("user_id").agg(F.max(F.struct("n_events", "total")).alias("s"))
    return latest.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.total").cast("long").alias("total_cents"),
    )


@register(
    "stream_stateful_stats_tws",
    tags=("streaming", "stateful", "agg"),
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_stats_tws(spark, sf_dir):
    """Cumulative per-user running totals on the SPARK-4 typed-state API
    — the transformWithState twin of stream_stateful_user_stats: the
    accumulator is one named 4-field value state in RocksDB instead of
    an opaque GroupState tuple, same integer-cents exactness contract,
    same batch oracle, so the gate certifies both stateful APIs against
    the relational SUM and against each other."""
    from lakehouse_tacklebox_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        ensure_tws_runtime,
        tws_running_agg,
    )

    ensure_tws_runtime(spark)
    stream = _events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = tws_running_agg(stream, keys=["user_id"], value_col="cents")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        sink = _run_memory_sink(spark, out, "update", "tws_stats")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # same reconciliation as the applyInPandasWithState twin: the memory
    # sink appends update-mode emissions; keep each key's final one
    latest = sink.groupBy("user_id").agg(F.max(F.struct("n_events", "total")).alias("s"))
    return latest.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.total").cast("long").alias("total_cents"),
    )


@register(
    "stream_stream_join",
    tags=("streaming", "join"),
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_seconds
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (attribution: purchases within 30
    minutes of a click by the same user), executed as a REAL stream on
    both sides. Each side carries an event-time watermark and the join
    condition bounds purchase time to [click, click + 30 min], so Spark
    can expire join state — the only formulation that runs unbounded at
    scale (state size is O(events inside the watermark horizon), not
    O(stream)). The batch oracle is the plain interval self-join; the
    streamed answer must match it exactly."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "31 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("lag_seconds"),
    )
    return _run_memory_sink(spark, joined, "append", "ss_join")


@register(
    "stream_session_window",
    tags=("streaming", "window", "session"),
    oracle="""
    WITH e AS (
        SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), marked AS (
        SELECT user_id, ts, cents,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts, cents,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM numbered GROUP BY user_id, sid
    """,
)
def stream_session_window(spark, sf_dir):
    """Gap-based session windows (30-minute inactivity gap) computed BY
    THE STREAMING ENGINE — ``session_window`` state merges adjacent
    events as micro-batches arrive — and compared exactly against the
    batch gaps-and-islands formulation (lag → cumulative session id).
    Session end is last-event + gap (half-open), so an event at exactly
    the gap boundary opens a new session on both sides."""
    from lakehouse_tacklebox_spark.streaming.windows import sessionized_agg

    stream = _events_stream(spark, sf_dir).select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = sessionized_agg(
        stream,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        ],
        watermark=None,  # complete mode keeps all session state; no eviction
    )
    sunk = _run_memory_sink(
        spark,
        out.select("session_start", "session_end", "user_id", "n_events", "total_cents"),
        "complete",
        "session_win",
    )
    return sunk


@register(
    "stream_incremental_mv",
    tags=("streaming", "mv", "merge"),
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(CAST(l_extendedprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS base_cents,
           CAST(sum(CAST(round(CAST(l_extendedprice AS DECIMAL(14,2))
                               * CAST(1 - l_discount AS DECIMAL(7,4)) * 100) AS BIGINT))
                AS BIGINT) AS disc_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def stream_incremental_mv(spark, sf_dir):
    """Incremental materialized-view maintenance — the DLT/'live table'
    core loop (reference: the EDW series' continuously-maintained gold
    aggregates) as a verifiable statement: a TPC-H-q1-shaped pricing
    summary is maintained by a per-batch fold as lineitem arrives in
    micro-batches, and the FINAL TABLE STATE must equal DuckDB's
    one-shot batch answer.

    Mechanics: the fact is chunked into 4 files; a file stream with
    maxFilesPerTrigger=1 forces ≥4 micro-batches; each batch computes
    map-side partial aggregates (count + exact integer cent sums — all
    associative, so the result is invariant to how the source was split
    into batches), combines them with the table's current group rows
    and replaces the table with the combined running sums
    (``fold_sums``: rows and commit from one snapshot).

    Scale: this is the 100 TB ingest shape for keeping a gold aggregate
    fresh — per-batch work is proportional to the BATCH (partial aggs +
    a rewrite of ~6 group rows), never a recompute of the full history;
    the batch-combine reads the |groups|-row table, not the fact.
    Exactly-once: each fold commit is stamped with the epoch id
    (Delta-protocol ``txn`` semantics — the stamp commits atomically
    WITH the rewritten files), so a micro-batch retried after its fold
    committed but before the stream checkpoint advanced is detected and
    no-opped; running sums can never be double-applied. ``run_mv``
    replays every epoch in-batch and the entry raises if a replay moved
    the view. The view's few rows are returned collected, so its
    scratch table is removed before the entry returns.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as SF

    from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="inc_mv_")
    tbl_dir = os.path.join(tmp, "tbl")
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]

    keys = ["l_returnflag", "l_linestatus"]
    base_cents = cents("l_extendedprice")
    disc_cents = rev_cents()

    def _upsert(batch_df, epoch):
        parts = batch_df.groupBy(*keys).agg(
            SF.count(SF.lit(1)).cast("bigint").alias("n_rows"),
            SF.sum(SF.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            SF.sum(base_cents).cast("bigint").alias("base_cents"),
            SF.sum(disc_cents).cast("bigint").alias("disc_cents"),
        )
        fold_sums(TackleTable(batch_df.sparkSession, tbl_dir), parts, keys, ("inc_mv", epoch))

    try:
        # create the (empty) view table BEFORE the stream starts: every
        # batch then takes the same idempotent fold path — no create/fold
        # split for a batch-0 retry to fall through
        TackleTable.create(
            spark,
            tbl_dir,
            schema=(
                "l_returnflag string, l_linestatus string, n_rows bigint, "
                "sum_qty bigint, base_cents bigint, disc_cents bigint"
            ),
        )
        chunks = li.select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
        ).repartition(4)
        if not run_mv(spark, chunks, _upsert, [tbl_dir]):
            raise RuntimeError("stream_incremental_mv: a replayed epoch moved the view")
        # the view has at most one row per (returnflag, linestatus): hand
        # back its rows, not a frame over the files removed below
        view = TackleTable(spark, tbl_dir).read().select(
            "l_returnflag", "l_linestatus", "n_rows", "sum_qty", "base_cents", "disc_cents"
        )
        rows = view.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, view.schema).orderBy("l_returnflag", "l_linestatus")


@register(
    "stream_funnel_stages",
    tags=("streaming", "stateful", "funnel"),
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
def stream_funnel_stages(spark, sf_dir):
    """The staged funnel computed BY THE STREAMING ENGINE: per-user
    event-time buffers in the state store re-anchor view → click-within-
    24h → purchase-within-24h on every micro-batch (robust to arbitrary
    arrival order — a late earlier 'view' correctly re-anchors and can
    LOWER a user's stage, which single-pass incremental funnels get
    wrong), reconciled to each user's latest emission, censused, and
    compared EXACTLY against DuckDB's batch staged-join answer — the
    same oracle as the batch entry events_funnel_stages."""
    from lakehouse_tacklebox_spark.streaming.stateful import stateful_funnel

    stream = _events_stream(spark, sf_dir).select("user_id", "ts", "event_type")
    staged = stateful_funnel(
        stream, "user_id", "ts", "event_type",
        stages=("view", "click", "purchase"), deadline_hours=24.0,
    )
    sink = _run_memory_sink(spark, staged, "update", "funnel")
    # latest emission per user = max monotone buffer counter
    latest = sink.groupBy("user_id").agg(
        F.max(F.struct("n_buffered", "stage")).alias("s")
    ).select("user_id", F.col("s.stage").alias("stage"))
    counts = latest.agg(
        F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("stage") >= 3, 1).otherwise(0)).alias("n3"),
    )
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
    "stream_incremental_join_mv",
    tags=("streaming", "mv", "merge", "join"),
    oracle="""
    SELECT o.o_orderpriority AS priority, l.l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(CAST(l.l_extendedprice AS DECIMAL(14,2))
                               * CAST(1 - l.l_discount AS DECIMAL(7,4)) * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY priority, returnflag
    ORDER BY priority, returnflag
    """,
)
def stream_incremental_join_mv(spark, sf_dir):
    """Incremental JOIN-view maintenance — the DLT 'gold table over a
    fact-dim join' loop: revenue per (order priority, return flag) where
    the FACT (lineitem) arrives as a micro-batched stream and orders is
    the static enrichment side. Each batch joins ONLY its new rows to
    orders, partial-aggregates, and folds the delta into the view
    (``fold_sums``); the final table state must equal DuckDB's one-shot batch join+agg.

    This is the shape `stream_incremental_mv` (agg-only) doesn't cover:
    the view's grain comes from a JOIN, so incremental maintenance rests
    on the join side being append-only facts against a stable dim —
    exactly the streaming fact-table enrichment pattern.

    Scale: per-batch cost is the BATCH joined to the dim (stream-static
    join; a real deployment broadcasts or co-partitions orders) plus a
    |groups|-row rewrite — never a recompute of history. Exactly-once via
    the epoch-stamped fold commit (the same Delta-txn contract as
    stream_incremental_mv).
    """
    import os
    import tempfile

    from pyspark.sql import functions as SF

    from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tbl_dir = os.path.join(tempfile.mkdtemp(prefix="inc_jmv_"), "tbl")
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    orders = t["orders"].select("o_orderkey", "o_orderpriority")

    TackleTable.create(
        spark,
        tbl_dir,
        schema="priority string, returnflag string, n_rows bigint, rev_cents bigint",
    )

    def _upsert(batch_df, epoch):
        parts = (
            batch_df.join(
                maybe_broadcast(orders, "orders"), SF.col("l_orderkey") == SF.col("o_orderkey")
            )
            .groupBy(
                SF.col("o_orderpriority").alias("priority"),
                SF.col("l_returnflag").alias("returnflag"),
            )
            .agg(
                SF.count(SF.lit(1)).cast("bigint").alias("n_rows"),
                SF.sum(rev_cents()).cast("bigint").alias("rev_cents"),
            )
        )
        fold_sums(
            TackleTable(batch_df.sparkSession, tbl_dir),
            parts,
            ["priority", "returnflag"],
            ("inc_jmv", epoch),
        )

    chunks = t["lineitem"].select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    ).repartition(4)
    if not run_mv(spark, chunks, _upsert, [tbl_dir]):
        raise RuntimeError("stream_incremental_join_mv: a replayed epoch moved the view")

    return (
        TackleTable(spark, tbl_dir)
        .read()
        .select("priority", "returnflag", "n_rows", "rev_cents")
        .orderBy("priority", "returnflag")
    )


@register(
    "stream_dedup_within_watermark",
    tags=("streaming", "dedup", "watermark"),
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Streaming ingest dedup via dropDuplicatesWithinWatermark — the
    bounded-state alternative to dropDuplicates for at-least-once
    sources (each key's dedup state is dropped once the watermark
    passes, so state is O(events within the lag), not O(stream)). The
    source REPLAYS every event twice within each file (the at-least-once
    delivery model); the deduped per-type census must equal the batch
    DISTINCT answer.

    The lag is sized to cover the corpus' full event-time span, so no
    replay is ever outside the dedup horizon and no row is ever "late"
    — the oracle comparison is exact by construction. In production the
    lag is the redelivery-skew bound: duplicates separated further than
    the lag are OUT OF CONTRACT by definition (that's what bounds the
    state), the state-size/completeness trade an at-least-once pipeline
    signs up for.

    Scale: dedup state is per-key in the state store, partitioned with
    the shuffle; the census is an ordinary streaming agg in complete
    mode over |event_type| groups.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as SF

    tmp = tempfile.mkdtemp(prefix="dedup_wm_")
    src_dir = os.path.join(tmp, "src")

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    doubled = ev.select(
        "event_id", "ts", "event_type", SF.round(SF.col("value") * 100).cast("long").alias("cents")
    ).withColumn("copy", SF.explode(SF.array(SF.lit(1), SF.lit(2)))).drop("copy")
    # hash-partition on the dedup key so an event's two copies land in
    # the SAME file (round-robin could split them across micro-batches,
    # where dedup would correctly depend on the watermark lag vs the
    # files' event-time spread — not the contract this entry states)
    doubled.repartition(4, "event_id").write.parquet(src_dir)

    raw_schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    deduped = stream.withWatermark("ts", "87600 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    censused = deduped.groupBy("event_type").agg(
        SF.count(SF.lit(1)).cast("bigint").alias("n_unique"),
        SF.sum("cents").cast("bigint").alias("cents"),
    )
    sunk = _run_memory_sink(spark, censused, "complete", "dedup_wm")
    shutil.rmtree(src_dir, ignore_errors=True)
    return sunk.select("event_type", "n_unique", "cents").orderBy("event_type")


@register(
    "stream_stream_left_join",
    tags=("streaming", "join", "outer"),
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
               CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
                   AS lag_seconds
        FROM c JOIN p ON p.user_id = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ), wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click')
                - INTERVAL 1 MINUTE,
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                - INTERVAL 31 MINUTE) AS w
    )
    SELECT click_id, purchase_id, user_id, lag_seconds FROM matched
    UNION ALL
    SELECT c.click_id, CAST(-1 AS BIGINT) AS purchase_id, c.user_id,
           CAST(-1 AS BIGINT) AS lag_seconds
    FROM c, wm
    WHERE c.click_id NOT IN (SELECT click_id FROM matched)
      AND c.click_ts + INTERVAL 30 MINUTE < wm.w
    """,
)
def stream_stream_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — attribution INCLUDING
    the clicks that never converted. The subtle part is WHICH unmatched
    clicks emit their null row: only those whose join window closed
    before the final global watermark (W = min over inputs of max event
    time − delay); clicks within 30 min + delay of the stream end are
    still in state when the stream stops and correctly do NOT emit.
    The oracle replays exactly that eviction rule — matched pairs UNION
    unmatched-and-evicted clicks (probe on the gate corpus: 23 matched +
    1981 evicted of 1983 total unmatched; the 2 tail clicks withheld) —
    so the entry pins Spark's outer-join watermark semantics, not just
    the happy path. Nulls are coalesced to -1 on both sides for the
    hash compare.

    Scale: identical state story to the inner variant — the interval
    bound lets Spark expire click state once the watermark passes
    click_ts + 30 min, so state is O(horizon), not O(stream).
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "31 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        F.coalesce(F.col("purchase_id"), F.lit(-1)).cast("bigint").alias("purchase_id"),
        "user_id",
        F.coalesce(
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"), F.lit(-1)
        )
        .cast("bigint")
        .alias("lag_seconds"),
    )
    return _run_memory_sink(spark, joined, "append", "ss_left")


@register(
    "stream_stream_full_outer_join",
    tags=("streaming", "join", "outer"),
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
               CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
                   AS lag_seconds
        FROM c JOIN p ON p.user_id = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ), wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click')
                - INTERVAL 1 MINUTE,
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                - INTERVAL 31 MINUTE) AS w
    )
    SELECT click_id, purchase_id, user_id, lag_seconds FROM matched
    UNION ALL
    SELECT c.click_id, CAST(-1 AS BIGINT) AS purchase_id, c.user_id,
           CAST(-1 AS BIGINT) AS lag_seconds
    FROM c, wm
    WHERE c.click_id NOT IN (SELECT click_id FROM matched)
      AND c.click_ts + INTERVAL 30 MINUTE < wm.w
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS click_id, p.purchase_id, p.user_id,
           CAST(-1 AS BIGINT) AS lag_seconds
    FROM p, wm
    WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
      AND p.purchase_ts < wm.w
    """,
)
def stream_stream_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — completes the join
    family (inner r3, left r6): clicks that never converted AND
    purchases with no preceding click both surface. Each side has its
    OWN eviction rule, derived from the interval condition:

    - a click emits its null row once the global watermark W passes
      ``click_ts + 30 min`` (no future purchase can land in its window);
    - a purchase emits once W passes ``purchase_ts`` (the condition
      bounds matching clicks by ``click_ts <= purchase_ts``, so a
      purchase older than W can never see a new click).

    W = min over inputs of (max event time − that input's delay), same
    replay as the left variant. Rows still inside either horizon when
    the stream ends stay withheld — the oracle reproduces BOTH rules, so
    this pins the per-side state-watermark derivation, not just row
    counts (gate-corpus probe: 23 matched, 1981 of 1983 unmatched clicks
    evicted, 1956 of 1958 unmatched purchases evicted — 2 withheld on
    EACH side, so neither rule passes vacuously). Nulls coalesce to -1
    for the hash compare (event_ids are nonnegative).

    Scale: state per side is O(its horizon) — clicks live 30 min + delay
    past the watermark, purchases just their delay — identical story to
    the inner/left variants; nothing accumulates with stream length.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "31 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("bigint").alias("click_id"),
        F.coalesce(F.col("purchase_id"), F.lit(-1)).cast("bigint").alias("purchase_id"),
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        F.coalesce(
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"), F.lit(-1)
        )
        .cast("bigint")
        .alias("lag_seconds"),
    )
    return _run_memory_sink(spark, joined, "append", "ss_full")


@register(
    "stream_join_then_window",
    tags=("streaming", "join", "window", "chained"),
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), matched AS (
        SELECT p.purchase_ts
        FROM c JOIN p ON p.user_id = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 6 HOUR
    ), wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click')
                - INTERVAL 1 MINUTE,
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                - INTERVAL 31 MINUTE)
            - INTERVAL 6 HOUR AS w
    )
    SELECT time_bucket(INTERVAL 15 MINUTE, purchase_ts) AS window_start,
           CAST(count(*) AS BIGINT) AS conversions
    FROM matched, wm
    WHERE time_bucket(INTERVAL 15 MINUTE, purchase_ts) + INTERVAL 15 MINUTE
              <= wm.w
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_join_then_window(spark, sf_dir):
    """CHAINED stateful operators in one streaming query — stream-stream
    interval join feeding a tumbling-window aggregation (the
    multi-stateful-operator support of Spark 3.5+; before that this
    required two queries with an intermediate sink). Semantics pinned by
    the oracle: the aggregation's append-mode emission uses the DELAYED
    watermark the join propagates downstream (SPARK-40925) — the 6 h
    interval means the join can still emit a purchase row until W passes
    click_ts + 6 h, so the window operator's effective watermark is
    W − 6 h and only 15-minute windows whose end ≤ that emit. The
    parameters are chosen so the rule DISCRIMINATES on the gate corpus:
    at sf0.01 exactly one tail window (200th) falls between the delayed
    and undelayed watermarks — an implementation that forgot the delay
    would emit it and fail the compare. W = min(max_click − 1 min,
    max_purchase − 31 min) − 6 h, replayed exactly by the oracle.

    Scale: join state is O(horizon) as in the inner variant; window
    state is O(open windows), both bounded by watermarks — the whole
    two-operator chain runs in ONE query with no intermediate table,
    which at 100 TB removes a full materialization + re-read.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "31 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")),
        "inner",
    )
    windowed = (
        joined.groupBy(F.window("purchase_ts", "15 minutes"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("conversions"))
        .select(
            F.col("window.start").alias("window_start"),
            "conversions",
        )
    )
    sunk = _run_memory_sink(spark, windowed, "append", "join_win")
    return sunk.orderBy("window_start")


@register(
    "stream_heavy_hitters_mv",
    tags=("streaming", "sketch", "mv", "heavy-hitters"),
    # Same exact oracle as the batch agg_heavy_hitters_mg: the stream
    # fold must land on the EXACT dominant-token answer — a lost
    # qualifying key anywhere in the merge tree (partition summary,
    # epoch fold, replayed epoch) vanishes from the result and fails
    # the compare.
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT w, CAST(count(*) AS BIGINT) AS n
    FROM toks, tot
    GROUP BY w, tot.n
    HAVING count(*) * 31 > tot.n
    ORDER BY n DESC, w
    """,
)
def stream_heavy_hitters_mv(spark, sf_dir):
    """Streaming heavy hitters as an incrementally maintained sketch MV:
    documents arrive in ≥4 micro-batches; each epoch folds the batch's
    per-partition Misra-Gries summaries into a ≤(capacity+1)-row state
    table (`mg_merge` — MG summaries are mergeable with the N/(m+1)
    bound preserved across ARBITRARY merge trees, PODS'12), one
    ``TackleTable.rewrite`` per epoch under the Delta-style ``txn``
    epoch stamp, so a replayed epoch no-ops instead of double-counting
    and a commit landing after the state was read is never overwritten.
    After the drain, the state's candidate set is re-counted exactly
    against the full corpus — the final answer must EQUAL the one-shot
    batch HAVING answer.

    The 100 TB shape: per-epoch state is O(capacity) rows regardless of
    stream length or key cardinality (the fold is control-plane: ≤
    capacity·partitions summary rows reach the driver per epoch), the
    exact re-count at read time is candidate-bounded, and exactly-once
    holds through failover because the sketch state and the epoch stamp
    commit atomically.
    """
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.operators.sketch import (
        _mg_partition_summary,
        mg_merge,
    )
    from lakehouse_tacklebox_spark.streaming.mv import run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    capacity = 30
    tmp = tempfile.mkdtemp(prefix="mg_mv_")
    state_dir = os.path.join(tmp, "state")
    try:
        docs = load_tables(spark, sf_dir, ["documents"])["documents"]
        TackleTable.create(
            spark, state_dir, schema="w string, mg_count bigint, is_total int"
        )

        def _fold(batch_df, epoch):
            s = batch_df.sparkSession

            def merge_batch(state):
                # runs only when the log lacks this epoch: a replayed epoch
                # never re-summarizes its batch
                toks = batch_df.select(
                    F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
                )
                summ = toks.mapInPandas(
                    _mg_partition_summary("w", capacity),
                    schema="w string, mg_count long, is_total int",
                ).collect()
                prev = state.collect()
                n_total = sum(
                    r["mg_count"] for r in prev + summ if r["is_total"] == 1
                )
                counters = mg_merge(
                    [
                        {r["w"]: r["mg_count"]}
                        for r in prev + summ
                        if r["is_total"] == 0
                    ],
                    capacity,
                )
                return s.createDataFrame(
                    [(k, int(c), 0) for k, c in sorted(counters.items())]
                    + [("", int(n_total), 1)],
                    "w string, mg_count bigint, is_total int",
                )

            TackleTable(s, state_dir).rewrite(merge_batch, txn=("mg_mv", epoch))

        chunks = docs.select("doc_id", "text").repartition(4)
        if not run_mv(spark, chunks, _fold, [state_dir]):
            raise RuntimeError("stream_heavy_hitters_mv: a replayed epoch moved the sketch")

        # the state is ≤ capacity candidate words plus the total: read it
        # into the driver, so the exact re-count needs no scratch table
        state = TackleTable(spark, state_dir).read().collect()
        n_total = sum(r["mg_count"] for r in state if r["is_total"] == 1)
        words = sorted({r["w"] for r in state if r["is_total"] == 0})
        candidates = spark.createDataFrame([(w,) for w in words], "w string")
        toks = docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        )
        return (
            toks.join(F.broadcast(candidates), "w")
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .filter(F.col("n") * (capacity + 1) > F.lit(n_total))
            .orderBy(F.desc("n"), "w")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_mv_retraction",
    tags=("streaming", "mv", "cdf", "merge"),
    # One-shot batch answer over the SURVIVING rows: the incremental MV
    # (built from inserts, then corrected by CDF delete retractions)
    # must land exactly here — a double-subtracted replay, a missed
    # delete, or a sign error each move a cents sum and fail the hash.
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_custkey % 97 <> 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def stream_mv_retraction(spark, sf_dir):
    """Incremental-view maintenance with RETRACTIONS — the GDPR/right-to-
    be-forgotten shape: a gold aggregate (orders by priority) is
    maintained incrementally as orders stream in (one txn-stamped
    ``fold_sums`` per epoch); then a forget-list
    MERGE deletes every row of the affected customers from the fact
    table WITH change-data-feed on, and the MV consumes the CDF delete
    rows as NEGATIVE deltas (classic IVM delta algebra: insert ⊕,
    delete ⊖ — Delta's CDF + micro-batch sink recipe, reference Step 5
    CDC discussion). The retraction is one ``TackleTable.rewrite`` of
    the view (sum with the negative partials, drop groups left with no
    orders), applied TWICE with the same txn stamp to prove a replayed
    epoch cannot double-subtract.

    The 100 TB shape: the forget pass rewrites only files holding
    forgotten customers (touched-file MERGE), the MV correction reads
    the CDF rows — proportional to what was DELETED, never a recompute
    of the surviving 100 TB — and both the fact delete and the MV fix
    are txn-stamped, so the pipeline is replay-safe end to end.
    """
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="mv_retract_")
    fact_dir = os.path.join(tmp, "fact")
    mv_dir = os.path.join(tmp, "mv")
    try:
        orders = load_tables(spark, sf_dir, ["orders"])["orders"]
        cols = ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]
        o_cents = cents("o_totalprice")

        def _partials(df, sign=1):
            return df.groupBy("o_orderpriority").agg(
                (F.count(F.lit(1)) * sign).cast("bigint").alias("n_orders"),
                (F.sum(o_cents) * sign).cast("bigint").alias("revenue_cents"),
            )

        TackleTable.create(spark, mv_dir, schema="o_orderpriority string, n_orders bigint, revenue_cents bigint")
        TackleTable.create(spark, fact_dir, orders.select(*cols).limit(0))

        def _fold(batch_df, epoch):
            s = batch_df.sparkSession
            # two tables, one epoch: each step carries its own txn stamp, so
            # a crash between them replays as (append no-op, fold applies)
            TackleTable(s, fact_dir).append(batch_df, txn=("ingest", epoch))
            fold_sums(TackleTable(s, mv_dir), _partials(batch_df), ["o_orderpriority"], ("mv", epoch))

        chunks = orders.select(*cols).repartition(4)
        if not run_mv(spark, chunks, _fold, [fact_dir, mv_dir]):
            raise RuntimeError("stream_mv_retraction: a replayed epoch moved the fact or the view")

        fact = TackleTable(spark, fact_dir)
        # the merge source is the DISTINCT forget-list (broadcast-sized at
        # any fact scale), null-padded to the target schema — a delete
        # clause never reads source values
        forget = (
            fact.read().filter(F.col("o_custkey") % 97 == 0).select("o_custkey").distinct()
        )
        for f in fact.read().schema.fields:
            if f.name != "o_custkey":
                forget = forget.withColumn(f.name, F.lit(None).cast(f.dataType))
        v_del = (
            fact.merge(forget, on=["o_custkey"])
            .whenMatchedDelete()
            .withChangeDataFeed()
            .withTransaction("forget", 1)
            .execute()
        )
        deltas = fact.read_changes(v_del, v_del).filter(F.col("_change_type") == "delete")
        mv = TackleTable(spark, mv_dir)

        def _retract():
            mv.rewrite(
                lambda rows: rows.unionByName(_partials(deltas, sign=-1))
                .groupBy("o_orderpriority")
                .agg(
                    F.sum("n_orders").cast("bigint").alias("n_orders"),
                    F.sum("revenue_cents").cast("bigint").alias("revenue_cents"),
                )
                .filter(F.col("n_orders") != 0),  # a fully-forgotten group leaves the MV
                txn=("mv_retract", 1),
            )

        _retract()
        _retract()  # replayed retraction epoch: txn stamp no-ops it — no double-subtract
        # at most 5 priority rows, returned as literal rows so the view's
        # scratch dir can go
        view = mv.read().select("o_orderpriority", "n_orders", "revenue_cents")
        return spark.createDataFrame(view.collect(), view.schema).orderBy("o_orderpriority")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_stream_semi_join",
    tags=("streaming", "join", "semi"),
    # Semi = existence: each converting click appears EXACTLY ONCE no
    # matter how many purchases land in its window (DISTINCT in the
    # oracle), and emission needs no watermark wait — matches emit the
    # moment both sides are in state, so no tail rows are withheld.
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT DISTINCT c.click_id, c.user_id
    FROM c JOIN p ON p.user_id = c.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ORDER BY click_id
    """,
)
def stream_stream_semi_join(spark, sf_dir):
    """Stream-stream LEFT SEMI interval join — 'which clicks converted',
    one row per converting click regardless of purchase count. With
    inner/LEFT OUTER/FULL OUTER already pinned, semi completes the
    emission-rule spectrum from the other side: a semi row emits as
    soon as ANY match exists (no watermark wait, unlike the outer
    variants' null rows), and duplicate suppression is the operator's
    job, not a downstream DISTINCT. State story unchanged: the interval
    bound lets Spark expire click state at watermark + 30 min, O(horizon)
    not O(stream)."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "31 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    ).select("click_id", "user_id")
    return _run_memory_sink(spark, joined, "append", "ss_semi").orderBy("click_id")


@register(
    "stream_stream_anti_join",
    tags=("streaming", "join", "anti"),
    # Anti is ALL eviction rule: a row may only emit once the watermark
    # proves no match can still arrive, so the correct result is
    # unmatched-AND-evicted — the gate corpus holds 1981 such clicks
    # with 2 unmatched tail clicks withheld in state. An implementation
    # that emits all 1983 unmatched clicks fails the compare: the
    # 2-row gap is the semantics under test.
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), matched AS (
        SELECT DISTINCT c.click_id
        FROM c JOIN p ON p.user_id = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ), wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click')
                - INTERVAL 1 MINUTE,
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                - INTERVAL 31 MINUTE) AS w
    )
    SELECT c.click_id, c.user_id
    FROM c, wm
    WHERE c.click_id NOT IN (SELECT click_id FROM matched)
      AND c.click_ts + INTERVAL 30 MINUTE < wm.w
    ORDER BY click_id
    """,
)
def stream_stream_anti_join(spark, sf_dir):
    """Stream-stream LEFT ANTI interval join — 'which clicks NEVER
    converted', the abandonment feed. Spark has no native stream-stream
    anti (LeftAnti with a streaming right side is rejected), so the
    operator is composed: LEFT OUTER join → filter the null-padded
    rows. The emission semantics are identical to a true anti — an
    outer null row materializes only when the watermark proves no match
    can still arrive — so the entire result is governed by the eviction
    rule: the two tail clicks whose windows are still open when the
    stream drains are correctly withheld, and the oracle replays
    exactly that rule rather than 'all unmatched'. State is O(horizon),
    same as the other four stream-stream variants."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "31 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).filter(F.col("purchase_id").isNull()).select("click_id", "user_id")
    return _run_memory_sink(spark, joined, "append", "ss_anti").orderBy("click_id")


@register(
    "stream_pq_index_mv",
    tags=("streaming", "similarity", "quantization", "transactions", "incremental"),
    # SELF-CERTIFYING: PQ codes aren't SQL-derivable (k-means), but the
    # index-maintenance CONTRACT is — n_vectors is the exact corpus
    # count, codes_match_batch certifies the streamed MV is
    # byte-identical to a one-shot batch encode of the full corpus under
    # the same frozen codebooks (train-offline/encode-online, the
    # production ANN-index pattern), and replay_noop certifies that
    # the deliberate in-batch replay of every epoch changed nothing
    # (Delta-txn idempotent appends). A drifting encoder, a lost batch,
    # or a double-applied epoch flips a flag or moves the count.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(1 AS INT) AS codes_match_batch,
           CAST(1 AS INT) AS replay_noop
    FROM embeddings
    """,
)
def stream_pq_index_mv(spark, sf_dir):
    """Streaming maintenance of a product-quantization ANN index:
    codebooks are trained ONCE on the initial corpus (frozen — the
    offline-train/online-encode split every deployed ANN index uses),
    then embeddings stream in micro-batches and each batch is PQ-encoded
    against the frozen codebooks and appended to a TackleTable codes MV
    under Delta-style txn idempotence; every epoch is replayed once
    more inside its batch (the failover model) and must no-op. The
    final MV must equal a one-shot batch encode exactly. Scale: per-batch cost is
    |batch| × m broadcast-joined code assignments — no shuffle of the
    corpus, no retraining; the 100 TB shape is identical with the codes
    column 32× smaller than the vectors it indexes."""
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.operators import similarity as S
    from lakehouse_tacklebox_spark.streaming.mv import run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="pq_mv_")
    tbl_dir = os.path.join(tmp, "tbl")
    try:
        e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        books = FX.frozen_pq_codebooks(spark, sf_dir, m=8, ksub=16, iters=2)
        book_rows = [(r["sub_idx"], r["code"], list(r["sub_vec"])) for r in books.collect()]
        TackleTable.create(spark, tbl_dir, schema="vec_id bigint, codes array<int>")

        def _encode_append(batch_df, epoch):
            s = batch_df.sparkSession
            table = TackleTable(s, tbl_dir)
            if table.txn_version("pq_mv") >= epoch:
                return  # retried epoch already committed
            bdf = s.createDataFrame(
                book_rows, schema="sub_idx INT, code INT, sub_vec ARRAY<DOUBLE>"
            )
            codes = S.pq_encode(batch_df, bdf, id_col="vec_id", vec_col="embedding")
            table.append(
                codes.select(
                    F.col("vec_id").cast("bigint"),
                    F.col("codes").cast("array<int>"),
                ),
                txn=("pq_mv", epoch),
            )

        replay_noop = run_mv(
            spark, e.select("vec_id", "embedding").repartition(4), _encode_append, [tbl_dir]
        )

        mv = TackleTable(spark, tbl_dir).read()
        batch_codes = S.pq_encode(e, books, id_col="vec_id", vec_col="embedding")
        n_vectors = e.count()
        n_mv = mv.count()
        n_match = mv.join(
            batch_codes.select("vec_id", F.col("codes").alias("codes_b")), "vec_id"
        ).filter(F.col("codes") == F.col("codes_b")).count()
        codes_match = (n_mv == n_vectors) and (n_match == n_vectors)

        return spark.createDataFrame(
            [(n_vectors, 1 if codes_match else 0, 1 if replay_noop else 0)],
            "n_vectors bigint, codes_match_batch int, replay_noop int",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# cdc_ann_index_deletes dials (shared with the margin test): the coarse
# quantizer's list count and the rebalance trigger threshold (max/mean
# occupancy in ppm). Measured on sf0.01: 1.069x post-delete over the
# 1.03 dial — a 3.7% margin the test pins against testdata regeneration.
_ANN_DEL_CENTROIDS = 8
_ANN_DEL_DIAL_PPM = 1_030_000


@register(
    "cdc_ann_index_deletes",
    tags=("streaming", "similarity", "quantization", "cdf", "incremental"),
    # SELF-CERTIFYING: IVF-PQ codes aren't SQL-derivable, but the
    # delete-maintenance CONTRACT is — n_vectors is the exact survivor
    # count (the forget-list is id arithmetic, so DuckDB derives it);
    # retraction_match certifies the post-delete MV equals a
    # frozen-structure encode of exactly the survivors (no zombie rows,
    # no over-deletes); replay_noop certifies the double-applied
    # retraction epoch changed nothing (txn idempotence); rebalance_
    # triggered pins that the occupancy dial BINDS on this corpus
    # (measured max/mean list occupancy 1.212x at sf0.01, 1.069x at
    # sf0.1, both over the 1.03x dial with >=3.7% margin — a dial that
    # never fires is the round-8 containment-cap mistake, and a dial
    # with a hairline margin is a testdata-regeneration flake waiting
    # to happen); rebuild_match certifies the
    # rebalance's table swap round-trips byte-identically.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(1 AS INT) AS retraction_match,
           CAST(1 AS INT) AS replay_noop,
           CAST(1 AS INT) AS rebalance_triggered,
           CAST(1 AS INT) AS rebuild_match
    FROM embeddings
    WHERE vec_id % 7 <> 3
    """,
)
def cdc_ann_index_deletes(spark, sf_dir):
    """ANN-index maintenance under DELETES — the lifecycle stage
    stream_pq_index_mv (append-only) leaves open, and the GDPR shape
    stream_mv_retraction covers for aggregates applied to an IVF-PQ
    index: a forget-list MERGE deletes vectors from the fact table with
    change-data-feed on; the index MV consumes the CDF delete rows as
    code-row RETRACTIONS (txn-stamped, replayed twice to prove a
    crashed-and-retried epoch cannot double-apply); then an OCCUPANCY
    REBALANCE trigger fires — when max/mean inverted-list occupancy
    exceeds the dial, the coarse quantizer is retrained on the surviving
    corpus and the MV is atomically overwritten with the re-encoded
    index (deletes skew list occupancy over time; a never-rebalanced
    IVF degrades probe recall). The swap is certified by reading the
    table BACK and comparing against an independent recompute. The
    100 TB shape: retraction cost is proportional to what was deleted
    (CDF rows -> keyed merge), never a recompute of the surviving
    corpus; the rebalance is the deliberate full-rebuild escape hatch,
    gated by the measured occupancy dial."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.operators import similarity as S
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="ann_del_")
    fact_dir = os.path.join(tmp, "fact")
    mv_dir = os.path.join(tmp, "mv")

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].select(
        "vec_id", "embedding"
    )
    # iters=1: the contract certifies MAINTENANCE semantics (retraction,
    # idempotence, rebuild parity), not codec quality — one Lloyd
    # iteration keeps the entry's two training passes cheap.
    num_centroids = _ANN_DEL_CENTROIDS
    # frozen structures come from the process-scoped fixture cache —
    # identical rows to a fresh ivfpq_index run (deterministic trainer),
    # already driver-frozen control plane (queries/fixtures.py)
    coarse, books, codes0 = FX.frozen_ivfpq(
        spark, sf_dir, num_centroids=num_centroids, m=4, ksub=8, iters=1
    )

    TackleTable.create(spark, fact_dir, e.limit(0))
    fact = TackleTable(spark, fact_dir)
    fact.append(e, txn=("ingest", 1))
    TackleTable.create(
        spark, mv_dir, schema="vec_id bigint, centroid_id int, codes array<int>"
    )
    mv = TackleTable(spark, mv_dir)
    mv.append(
        codes0.select(
            F.col("vec_id").cast("bigint"),
            F.col("centroid_id").cast("int"),
            F.col("codes").cast("array<int>"),
        ),
        txn=("mv", 1),
    )

    # forget-list delete on the fact table, CDF on (same as
    # stream_mv_retraction: delete clauses never read source values)
    forget = fact.read().filter(F.col("vec_id") % 7 == 3).select("vec_id").distinct()
    forget = forget.withColumn("embedding", F.lit(None).cast("array<float>"))
    (
        fact.merge(forget, on=["vec_id"])
        .whenMatchedDelete()
        .withChangeDataFeed()
        .withTransaction("forget", 1)
        .execute()
    )
    del_version = fact.version()

    # CDF deletes -> code-row retractions on the index MV
    deleted = (
        fact.read_changes(del_version, del_version)
        .filter(F.col("_change_type") == "delete")
        .select(F.col("vec_id").cast("bigint"))
        .distinct()
        .withColumn("centroid_id", F.lit(None).cast("int"))
        .withColumn("codes", F.lit(None).cast("array<int>"))
    )

    def _retract(epoch):
        (
            mv.merge(deleted, on=["vec_id"])
            .whenMatchedDelete()
            .withTransaction("mv_del", epoch)
            .execute()
        )

    _retract(2)
    v_after = mv.version()
    _retract(2)
    _retract(2)
    replay_noop = mv.version() == v_after

    survivors = fact.read().localCheckpoint(eager=True)
    n_surv = survivors.count()

    # order-invariant row-set signature (count + xor + bounded-sum of
    # row hashes — the cdc_ann_index_upserts pattern): one map-side
    # aggregate pass per side instead of a corpus-wide equi-join; a
    # zombie row, an over-delete, or a drifting encoder moves a fold
    def _sig(fr):
        # 4-fold signature (operators/signature.py): count/xor/sum/
        # sum-of-squares — a cancelling pair needs a 3-way coincidence
        # (ADVICE r11).
        from lakehouse_tacklebox_spark.operators.signature import rowset_signature

        return rowset_signature(fr, ["vec_id", "centroid_id", "codes"])

    norm = lambda fr: fr.select(
        F.col("vec_id").cast("bigint"),
        F.col("centroid_id").cast("int"),
        F.col("codes").cast("array<int>"),
    )
    frozen = norm(S.ivfpq_encode(survivors, coarse, books))
    mv_now = mv.read()
    mv_sig = _sig(norm(mv_now))
    retraction_match = (mv_sig[0] == n_surv) and (mv_sig == _sig(frozen))

    # occupancy dial: max/mean list size in ppm (exact integer arithmetic);
    # the mean divisor is derived from num_centroids, not a literal, so a
    # centroid-count change can't silently skew the ratio (ADVICE r9). The
    # >=3.7% margin between measured ratio and the dial is pinned by
    # tests/test_streaming.py::test_ann_delete_occupancy_dial_margin so a
    # testdata regeneration surfaces as a test failure, not a drive red.
    occ = [r["n"] for r in mv_now.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n")).collect()]
    ratio_ppm = max(occ) * num_centroids * 1_000_000 // sum(occ) if occ else 0
    rebalance_triggered = ratio_ppm > _ANN_DEL_DIAL_PPM

    rebuild_match = False
    if rebalance_triggered:
        _, _, codes2 = S.ivfpq_index(survivors, num_centroids=num_centroids, m=4, ksub=8, iters=1)
        codes2 = norm(codes2).localCheckpoint(eager=True)
        mv.overwrite(codes2, txn=("mv_rebalance", 1))
        final_sig = _sig(norm(TackleTable(spark, mv_dir).read()))
        rebuild_match = (final_sig[0] == n_surv) and (final_sig == _sig(codes2))

    return spark.createDataFrame(
        [
            (
                n_surv,
                1 if retraction_match else 0,
                1 if replay_noop else 0,
                1 if rebalance_triggered else 0,
                1 if rebuild_match else 0,
            )
        ],
        "n_vectors bigint, retraction_match int, replay_noop int,"
        " rebalance_triggered int, rebuild_match int",
    )


@register(
    "cdc_ann_index_upserts",
    tags=("streaming", "similarity", "quantization", "cdf", "incremental"),
    # Completes the vector CRUD lattice (VERDICT r10 item 4):
    # stream_pq_index_mv covers APPEND, cdc_ann_index_deletes covers
    # DELETE — this is UPDATE+INSERT. Reference anchor: the reference's
    # merge-as-sync maintenance loop (delta_sync.py:54-66), re-expressed
    # as Delta-style CDF -> keyed MERGE on a TackleTable. SELF-
    # CERTIFYING (IVF-PQ codes aren't SQL-derivable): the oracle pins
    # the exact post-upsert corpus count and the update/insert feed
    # sizes (both id arithmetic, so DuckDB derives them);
    # cdf_rows_match certifies the maintenance consumed EXACTLY the
    # changed rows (CDF update+insert counts equal the feed sizes — the
    # incremental claim: re-encode cost ∝ changes, never the corpus);
    # upsert_match certifies (a) the merged MV equals (baseline codes
    # minus changed ids) ∪ fresh re-encodes — set arithmetic by
    # order-invariant row-set signature; a stale code row or missed
    # insert moves a fold — and (b) a sampled re-encode of unchanged
    # vectors matches their baseline codes (the encoder-drift check at
    # sample cost instead of a corpus-sized scratch encode);
    # replay_noop certifies the double-replayed maintenance epoch is a
    # version-stable no-op (Delta txn idempotence).
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
             + (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 33 = 4)
               AS n_vectors,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 35 = 2)
               AS n_updated,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 33 = 4)
               AS n_inserted,
           CAST(1 AS INT) AS cdf_rows_match,
           CAST(1 AS INT) AS upsert_match,
           CAST(1 AS INT) AS replay_noop
    """,
)
def cdc_ann_index_upserts(spark, sf_dir):
    """ANN-index maintenance under UPSERTS — the remaining vector CRUD
    stage: an upsert feed (updates re-embed every vec_id % 35 == 2 as its
    reversed vector; inserts add a fresh vector per vec_id % 33 == 4 at
    a max_id+1-offset id — ~3% churn each, a batch-sized feed) MERGEs into the CDF-tracked fact table; the
    index MV consumes the CDF update/insert rows, re-encodes ONLY those
    vectors against the FROZEN coarse quantizer and codebooks (offline-
    train / online-encode — an upsert never retrains), and MERGEs the
    fresh code rows in under a txn stamp, double-replayed to prove a
    crash-retried epoch cannot double-apply. The 100 TB shape: upsert
    cost is CDF-rows x m broadcast code assignments + a touched-file
    keyed MERGE — the surviving corpus is never re-encoded, and the
    read-back certification here is the gate artifact, not the
    production path."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.operators import similarity as S
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="ann_ups_")
    fact_dir = os.path.join(tmp, "fact")
    mv_dir = os.path.join(tmp, "mv")

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].select(
        "vec_id", "embedding"
    )
    # shared with cdc_ann_index_deletes: same (8, m=4, ksub=8, iters=1)
    # frozen structures from the process-scoped fixture cache
    coarse, books, codes0 = FX.frozen_ivfpq(
        spark, sf_dir, num_centroids=8, m=4, ksub=8, iters=1
    )

    TackleTable.create(spark, fact_dir, e.limit(0))
    fact = TackleTable(spark, fact_dir)
    fact.append(e, txn=("ingest", 1))
    TackleTable.create(
        spark, mv_dir, schema="vec_id bigint, centroid_id int, codes array<int>"
    )
    mv = TackleTable(spark, mv_dir)
    mv.append(
        codes0.select(
            F.col("vec_id").cast("bigint"),
            F.col("centroid_id").cast("int"),
            F.col("codes").cast("array<int>"),
        ),
        txn=("mv", 1),
    )

    # the upsert feed: updates keep their id, inserts land above max_id
    # (offset derived from the data, never a literal — ADVICE r10).
    # Feed fractions are ~3% each (% 35 / % 33, VERDICT r12 item 4 —
    # the earlier % 5 / % 11 churned 29% of the corpus, so the "batch"
    # MERGE rewrote most files and the sf1 cost measured corpus
    # rewrite, not incremental maintenance; a small batch is also the
    # honest shape for the claim "re-encode cost ∝ changes").
    max_id = e.agg(F.max("vec_id")).collect()[0][0]
    flipped = F.reverse(F.col("embedding")).alias("embedding")
    updates = e.filter(F.col("vec_id") % 35 == 2).select("vec_id", flipped)
    inserts = e.filter(F.col("vec_id") % 33 == 4).select(
        (F.col("vec_id") + F.lit(max_id + 1)).alias("vec_id"), flipped
    )
    feed = updates.unionByName(inserts)
    n_updates = updates.count()
    n_inserts = inserts.count()

    (
        fact.merge(feed, on=["vec_id"])
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withChangeDataFeed()
        .withTransaction("upsert_feed", 1)
        .execute()
    )
    ups_version = fact.version()

    # CDF changed rows -> re-encode ONLY those against the frozen index
    changed = (
        fact.read_changes(ups_version, ups_version)
        .filter(F.col("_change_type").isin("update", "insert"))
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    cdf_rows_match = changed.count() == n_updates + n_inserts
    fresh = S.ivfpq_encode(changed, coarse, books).select(
        F.col("vec_id").cast("bigint"),
        F.col("centroid_id").cast("int"),
        F.col("codes").cast("array<int>"),
    ).localCheckpoint(eager=True)

    def _sync(epoch):
        (
            mv.merge(fresh, on=["vec_id"])
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .withTransaction("mv_upsert", epoch)
            .execute()
        )

    _sync(2)
    v_after = mv.version()
    _sync(2)
    _sync(2)
    replay_noop = mv.version() == v_after

    # read-back certification, in two bounded halves (VERDICT r12
    # item 4 — the earlier from-scratch encode of the whole post-upsert
    # corpus made the CERT, not the maintenance, the sf1 cost):
    #   (1) merge mechanics: merged MV == (codes0 minus changed ids) ∪
    #       fresh — pure set arithmetic over already-materialized
    #       frames, compared by order-invariant row-set signature. A
    #       stale code row, a missed insert, or a double-applied epoch
    #       moves a fold. codes0 is the fixture-cached full encode, so
    #       nothing corpus-sized is recomputed.
    #   (2) encoder stability: re-encode a ~1/13 SAMPLE of unchanged
    #       vectors under the same frozen structures and signature-
    #       compare against their codes0 rows — the "drifting encoder"
    #       detector the scratch encode used to provide, at sample cost.
    def _sig(fr):
        # 4-fold dual-seeded signature (operators/signature.py).
        from lakehouse_tacklebox_spark.operators.signature import rowset_signature

        return rowset_signature(fr, ["vec_id", "centroid_id", "codes"])

    post = fact.read()
    n_vectors = post.count()
    changed_ids = changed.select("vec_id")
    expected = (
        codes0.select(
            F.col("vec_id").cast("bigint"),
            F.col("centroid_id").cast("int"),
            F.col("codes").cast("array<int>"),
        )
        .join(changed_ids, "vec_id", "left_anti")
        .unionByName(fresh)
    )
    mv_back = TackleTable(spark, mv_dir).read()
    merge_match = _sig(mv_back) == _sig(expected)
    sample = post.join(changed_ids, "vec_id", "left_anti").filter(
        F.col("vec_id") % 13 == 0
    )
    sample_codes = S.ivfpq_encode(sample, coarse, books).select(
        F.col("vec_id").cast("bigint"),
        F.col("centroid_id").cast("int"),
        F.col("codes").cast("array<int>"),
    )
    baseline_codes = codes0.select(
        F.col("vec_id").cast("bigint"),
        F.col("centroid_id").cast("int"),
        F.col("codes").cast("array<int>"),
    ).join(sample.select("vec_id"), "vec_id", "semi")
    drift_ok = _sig(sample_codes) == _sig(baseline_codes)
    upsert_match = merge_match and drift_ok

    return spark.createDataFrame(
        [
            (
                n_vectors,
                n_updates,
                n_inserts,
                1 if cdf_rows_match else 0,
                1 if upsert_match else 0,
                1 if replay_noop else 0,
            )
        ],
        "n_vectors bigint, n_updated bigint, n_inserted bigint,"
        " cdf_rows_match int, upsert_match int, replay_noop int",
    )


@register(
    "stream_bm25_index_mv",
    tags=("streaming", "retrieval", "text", "transactions", "incremental"),
    # Streaming maintenance of the KEYWORD index rag_hybrid_retrieval
    # queries — the retrieval-side sibling of stream_pq_index_mv (ANN
    # appends) and cdc_ann_index_deletes (ANN deletes): documents stream
    # in micro-batches and three MV tables absorb each epoch under
    # per-table Delta-txn idempotence — postings (doc, term, tf) and
    # doclens append (each doc streams once, so batches are disjoint);
    # the df table is a vocab-sized ``fold_sums`` (disjoint doc
    # sets => per-term df counts ADD, the span-census-merge argument).
    # Every epoch is replayed in-batch and must no-op on ALL THREE
    # tables. Certification is CONTENT-level: the emitted rows are the
    # integer-BM25 top-10 per query computed FROM THE MV TABLES ALONE
    # (read back), and the oracle recomputes the same ranking from the
    # raw corpus — a drifted df, a lost posting, or a double-applied
    # epoch reorders the ranking or flips a flag.
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ), tok AS (
        SELECT doc_id, w FROM toks
        WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len) AS BIGINT) AS total
        FROM dl
    ), dft AS (
        SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY w
    ), tft AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, w
    ), qt AS (
        SELECT DISTINCT doc_id AS query_id, w FROM tok WHERE doc_id < 3
    ), bm AS (
        SELECT qt.query_id, tft.doc_id,
               CAST(sum(
                 (((2*(s.n_docs - dft.df) + 1) * 1000000) // (2*dft.df + 1))
                 * ((44000*tft.tf*s.total)
                    // (20*tft.tf*s.total + 6*s.total + 18*dl.len*s.n_docs))
               ) AS BIGINT) AS score
        FROM qt
        JOIN tft USING (w)
        JOIN dft USING (w)
        JOIN dl ON dl.doc_id = tft.doc_id
        CROSS JOIN stats s
        WHERE tft.doc_id <> qt.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, CAST(kw_rank AS BIGINT) AS kw_rank,
           CAST(1 AS INT) AS df_match,
           CAST(1 AS INT) AS replay_noop
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS kw_rank
        FROM bm
    ) WHERE kw_rank <= 10
    ORDER BY query_id, kw_rank
    """,
)
def stream_bm25_index_mv(spark, sf_dir):
    """Streaming BM25 index maintenance: the postings/doclen/df tables a
    keyword retriever serves from, maintained over micro-batched
    document arrivals with per-table txn idempotence, then QUERIED —
    the emitted top-10 per query is computed from the read-back MV
    tables only, using rag_hybrid_retrieval's exact integer-rational
    BM25, so the oracle's from-the-raw-corpus recompute hash-checks the
    maintained index's actual serving output. Per-batch cost: one
    batch-local token census (appends) plus a vocab-sized df fold —
    the corpus is never rescanned; at 100 TB the df frame is the only
    non-append state and it grows with the VOCABULARY, not the corpus.
    Three-table epochs are individually idempotent (each append and the
    ``fold_sums`` of the df table check their own txn stamp on the
    snapshot they commit on), the crash-retry contract a micro-batch
    sink needs."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="bm25_mv_")
    post_dir = os.path.join(tmp, "postings")
    dlen_dir = os.path.join(tmp, "doclen")
    df_dir = os.path.join(tmp, "df")

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    TackleTable.create(spark, post_dir, schema="doc_id bigint, w string, tf bigint")
    TackleTable.create(spark, dlen_dir, schema="doc_id bigint, len bigint")
    TackleTable.create(spark, df_dir, schema="w string, df bigint")

    def _tok(batch_df):
        return (
            batch_df.select(
                "doc_id",
                F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
            )
            .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        )

    stamps = ((post_dir, "bm25_post"), (dlen_dir, "bm25_len"), (df_dir, "bm25_df"))

    def _apply(batch_df, epoch):
        s = batch_df.sparkSession
        if all(TackleTable(s, p).txn_version(a) >= epoch for p, a in stamps):
            return  # replayed epoch: every table already holds it
        tok = _tok(batch_df).localCheckpoint(eager=True)
        TackleTable(s, post_dir).append(
            tok.groupBy("doc_id", "w").agg(
                F.count(F.lit(1)).cast("bigint").alias("tf")
            ).select(F.col("doc_id").cast("bigint"), "w", "tf"),
            txn=("bm25_post", epoch),
        )
        TackleTable(s, dlen_dir).append(
            tok.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("len")
            ).select(F.col("doc_id").cast("bigint"), "len"),
            txn=("bm25_len", epoch),
        )
        batch_df_counts = tok.select("doc_id", "w").distinct().groupBy("w").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
        fold_sums(TackleTable(s, df_dir), batch_df_counts, ["w"], ("bm25_df", epoch))

    replay_noop = run_mv(
        spark, d.select("doc_id", "text").repartition(4), _apply, [p for p, _ in stamps]
    )

    # df MV == from-scratch census over everything streamed
    mv_df = TackleTable(spark, df_dir).read()
    full_df = _tok(d).select("doc_id", "w").distinct().groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n_full = full_df.count()
    n_match = mv_df.join(full_df, ["w", "df"]).count()
    df_match = (mv_df.count() == n_full) and (n_match == n_full)

    # serve the query FROM THE MVs alone (read back)
    post = TackleTable(spark, post_dir).read()
    dlen = TackleTable(spark, dlen_dir).read()
    stats = dlen.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("len").cast("bigint").alias("total"),
    )
    qt = post.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "w"
    ).distinct()
    bm = (
        post.join(F.broadcast(qt), "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(mv_df, "w")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.expr(
                "(((2*(n_docs - df) + 1) * CAST(1000000 AS BIGINT)) DIV (2*df + 1))"
                " * ((44000*tf*total)"
                "    DIV (20*tf*total + 6*total + 18*len*n_docs))"
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").cast("bigint").alias("score"))
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        bm.withColumn("kw_rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("kw_rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            "score",
            "kw_rank",
            F.lit(1 if df_match else 0).cast("int").alias("df_match"),
            F.lit(1 if replay_noop else 0).cast("int").alias("replay_noop"),
        )
        .orderBy("query_id", "kw_rank")
    )


@register(
    "stream_phash_index_mv",
    tags=("streaming", "multimodal", "image", "dedup", "transactions", "incremental"),
    # Streaming maintenance of the MEDIA near-dup index — the image
    # sibling of stream_bm25_index_mv (keyword postings) and
    # stream_pq_index_mv (vector codes), completing index-lifecycle
    # coverage across all three retrieval modalities: raw BMP payloads
    # stream in micro-batches; each epoch decodes+hashes ONLY its own
    # batch (Arrow pHash) and absorbs it into two MV tables under
    # per-table Delta-txn idempotence — the banded inverted index
    # (img_id, phash, band_idx, band_key; appends, images stream once
    # so batches are disjoint) and a band-occupancy census
    # (``fold_sums``; disjoint batches => counts add — the skew
    # readout a deployment watches to decide salting). Every epoch
    # replays in-batch and must no-op on BOTH tables. SELF-CERTIFYING
    # oracle (mm_image_phash_neardup precedent): pHashes aren't DuckDB-
    # recomputable, but the planted-duplicate structure is id
    # arithmetic, and serving runs FROM THE READ-BACK MV ALONE — a
    # lost band row, drifted occupancy, or double-applied epoch flips
    # a flag or moves n_pairs.
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 3 = 0) AS BIGINT) AS n_images,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 0) AS BIGINT) AS n_copies,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 0) AS BIGINT) AS n_pairs,
           CAST(1 AS INT) AS copies_all_matched,
           CAST(1 AS INT) AS no_false_pairs,
           CAST(1 AS INT) AS index_merge_match,
           CAST(1 AS INT) AS occupancy_match,
           CAST(1 AS INT) AS replay_noop
    FROM documents
    """,
)
def stream_phash_index_mv(spark, sf_dir):
    """Streaming pHash index maintenance: micro-batched image arrivals
    are decoded and hashed per-batch, banded into the persisted
    inverted index, and the band-occupancy census is merged — then the
    near-dup query (band-bucket self-join + exact Hamming <= 6 on the
    STORED hashes) is served from the read-back tables only, and its
    planted-copy structure is certified by id arithmetic. Per-batch
    cost ∝ batch size (decode, hash, band, merge a band-cardinality-
    sized census); already-ingested images are never re-decoded — at
    100 TB of media the index and census are the only state, and
    serving never touches payload bytes. Idempotence: both tables
    check their own txn stamp, so a crash-retried epoch (replayed
    in-batch here) is a version-stable no-op."""
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.operators import multimodal as MM
    from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="phash_mv_")
    band_dir = os.path.join(tmp, "bands")
    occ_dir = os.path.join(tmp, "occ")
    try:
        d = load_tables(spark, sf_dir, ["documents"])["documents"]
        fixture = MM.as_bmp_images_with_neardups(d)
        imgs = fixture.select("img_id", "payload")
        # Manifest carries the fixture's is_copy/src_id flags so the planted-
        # copy certification below never decodes copy-ness from the id range
        # (the +100000 offset would silently collide with real doc_ids at
        # larger scales — ADVICE r10).
        manifest_dir = os.path.join(tmp, "manifest")
        fixture.select("img_id", "src_id", "is_copy").write.parquet(manifest_dir)
        TackleTable.create(
            spark, band_dir,
            schema="img_id bigint, phash bigint, band_idx int, band_key bigint",
        )
        TackleTable.create(spark, occ_dir, schema="band_idx int, band_key bigint, n bigint")

        def _bands(hashed):
            return hashed.select(
                "img_id",
                "phash",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).cast("int").alias("band_idx"),
                                F.shiftrightunsigned(F.col("phash"), 16 * i)
                                .bitwiseAND(F.lit(0xFFFF))
                                .cast("bigint")
                                .alias("band_key"),
                            )
                            for i in range(4)
                        ]
                    )
                ).alias("b"),
            ).select("img_id", "phash", "b.band_idx", "b.band_key")

        stamps = ((band_dir, "phash_bands"), (occ_dir, "phash_occ"))

        def _apply(batch_df, epoch):
            s = batch_df.sparkSession
            if all(TackleTable(s, p).txn_version(a) >= epoch for p, a in stamps):
                return  # replayed epoch: both tables already hold it
            hashed = MM.image_phash(batch_df, keys=["img_id"]).localCheckpoint(eager=True)
            bands = _bands(hashed).localCheckpoint(eager=True)
            TackleTable(s, band_dir).append(bands, txn=("phash_bands", epoch))
            census = bands.groupBy("band_idx", "band_key").agg(
                F.count(F.lit(1)).cast("bigint").alias("n")
            )
            fold_sums(TackleTable(s, occ_dir), census, ["band_idx", "band_key"], ("phash_occ", epoch))

        replay_noop = run_mv(spark, imgs.repartition(4), _apply, [p for p, _ in stamps])

        # index MV == from-scratch banding of everything streamed
        back = TackleTable(spark, band_dir).read().localCheckpoint(eager=True)
        full = _bands(MM.image_phash(imgs, keys=["img_id"])).localCheckpoint(eager=True)
        n_full = full.count()
        index_match = (back.count() == n_full) and (
            back.join(full, ["img_id", "phash", "band_idx", "band_key"]).count() == n_full
        )
        occ_back = TackleTable(spark, occ_dir).read()
        occ_full = full.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        n_occ = occ_full.count()
        occ_match = (occ_back.count() == n_occ) and (
            occ_back.join(occ_full, ["band_idx", "band_key", "n"]).count() == n_occ
        )

        # serve the near-dup query FROM THE MV alone
        a = back.alias("a")
        b = back.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.img_id") < F.col("b.img_id")),
            )
            .select(
                F.col("a.img_id").alias("id_a"),
                F.col("b.img_id").alias("id_b"),
                F.col("a.phash").alias("ph_a"),
                F.col("b.phash").alias("ph_b"),
            )
            .distinct()
            .withColumn("hamming", F.bit_count(F.expr("ph_a ^ ph_b")))
            .filter(F.col("hamming") <= 6)
            .select("id_a", "id_b")
        )
        man = F.broadcast(spark.read.parquet(manifest_dir)).localCheckpoint(eager=True)
        ided = back.select("img_id").distinct().join(man, "img_id")
        n_images = ided.filter(F.col("is_copy") == 0).count()
        n_copies = ided.filter(F.col("is_copy") == 1).count()
        # A pair certifies as copy↔source iff one side is flagged is_copy
        # and its manifest src_id equals the other side — direction-agnostic,
        # no id arithmetic.
        ma = man.select(
            F.col("img_id").alias("id_a"),
            F.col("src_id").alias("src_a"),
            F.col("is_copy").alias("copy_a"),
        )
        mb = man.select(
            F.col("img_id").alias("id_b"),
            F.col("src_id").alias("src_b"),
            F.col("is_copy").alias("copy_b"),
        )
        stats = (
            pairs.join(ma, "id_a")
            .join(mb, "id_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum(
                    F.when(
                        ((F.col("copy_b") == 1) & (F.col("src_b") == F.col("id_a")))
                        | ((F.col("copy_a") == 1) & (F.col("src_a") == F.col("id_b"))),
                        1,
                    ).otherwise(0)
                ).alias("n_copy_source_pairs"),
            )
            .collect()[0]
        )
        n_pairs = int(stats["n_pairs"] or 0)
        n_cs = int(stats["n_copy_source_pairs"] or 0)
        return spark.createDataFrame(
            [
                (
                    n_images,
                    n_copies,
                    n_pairs,
                    1 if n_cs == n_copies else 0,
                    1 if n_pairs == n_copies else 0,
                    1 if index_match else 0,
                    1 if occ_match else 0,
                    1 if replay_noop else 0,
                )
            ],
            "n_images bigint, n_copies bigint, n_pairs bigint, copies_all_matched int,"
            " no_false_pairs int, index_merge_match int, occupancy_match int, replay_noop int",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_epoch_shuffle_mv",
    tags=("streaming", "corpus", "training", "transactions", "incremental"),
    # The incremental posture of corpus_epoch_shuffle (append-invariance
    # is what MAKES it incremental: md5(seed:id) reads only its own row,
    # so a micro-batch can key itself with no history read): documents
    # stream in; each epoch appends its keyed rows to the shuffle MV and
    # merges the per-bucket census under per-table txn idempotence;
    # every epoch replays in-batch and must no-op on both tables. The
    # emitted per-bucket occupancy is fully DuckDB-derivable (the same
    # md5 arithmetic), and the flags certify the MV row-set equals a
    # from-scratch keying of everything streamed (order-invariant
    # signature) and the merged census equals the MV's own groupBy.
    oracle="""
    WITH k AS (
        SELECT doc_id,
               ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS sort_key
        FROM documents
    )
    SELECT sort_key % 8 AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(1 AS INT) AS index_merge_match,
           CAST(1 AS INT) AS census_match,
           CAST(1 AS INT) AS replay_noop
    FROM k
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_epoch_shuffle_mv(spark, sf_dir):
    """Streaming maintenance of the training-epoch shuffle: arriving
    documents are keyed per micro-batch (seed-keyed md5 — a pure
    per-row function, so batches need no history and the MV is
    append-only) and the per-bucket census is folded by ``fold_sums``,
    both under Delta-txn idempotence with every epoch replayed
    in-batch. Per-batch cost ∝ batch size + a bucket-count-sized census
    merge; at 100 TB the shuffle order of an ever-growing corpus is
    maintained by appends alone — history is never re-keyed, which is
    the append-invariance corpus_epoch_shuffle certifies."""
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.operators.corpus import epoch_shuffle
    from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    tmp = tempfile.mkdtemp(prefix="epoch_mv_")
    mv_dir = os.path.join(tmp, "mv")
    occ_dir = os.path.join(tmp, "occ")
    try:
        NB = 8

        d = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
        TackleTable.create(
            spark, mv_dir, schema="doc_id bigint, sort_key bigint, bucket bigint"
        )
        TackleTable.create(spark, occ_dir, schema="bucket bigint, n bigint")

        stamps = ((mv_dir, "epoch_mv"), (occ_dir, "epoch_occ"))

        def _apply(batch_df, epoch):
            s = batch_df.sparkSession
            if all(TackleTable(s, p).txn_version(a) >= epoch for p, a in stamps):
                return  # replayed epoch: both tables already hold it
            keyed = epoch_shuffle(batch_df, "doc_id", seed=42, n_buckets=NB).select(
                F.col("doc_id").cast("bigint"),
                F.col("sort_key").cast("bigint"),
                F.col("bucket").cast("bigint"),
            ).localCheckpoint(eager=True)
            TackleTable(s, mv_dir).append(keyed, txn=("epoch_mv", epoch))
            batch_occ = keyed.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            fold_sums(TackleTable(s, occ_dir), batch_occ, ["bucket"], ("epoch_occ", epoch))

        replay_noop = run_mv(spark, d.repartition(4), _apply, [p for p, _ in stamps])

        back = TackleTable(spark, mv_dir).read().localCheckpoint(eager=True)
        full = epoch_shuffle(d, "doc_id", 42, NB).select(
            F.col("doc_id").cast("bigint"),
            F.col("sort_key").cast("bigint"),
            F.col("bucket").cast("bigint"),
        )

        def _sig(fr):
            # 4-fold signature (operators/signature.py; ADVICE r11)
            from lakehouse_tacklebox_spark.operators.signature import rowset_signature

            return rowset_signature(fr, ["doc_id", "sort_key", "bucket"])

        index_merge_match = _sig(back) == _sig(full)

        occ_back = {
            r["bucket"]: r["n"]
            for r in TackleTable(spark, occ_dir).read().collect()
        }
        occ_mv = {
            r["bucket"]: r["n"]
            for r in back.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("n")).collect()
        }
        census_match = occ_back == occ_mv

        return (
            back.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .withColumn(
                "index_merge_match", F.lit(1 if index_merge_match else 0).cast("int")
            )
            .withColumn("census_match", F.lit(1 if census_match else 0).cast("int"))
            .withColumn("replay_noop", F.lit(1 if replay_noop else 0).cast("int"))
            .orderBy("bucket")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _cc_mv_oracle() -> str:
    """Full-recompute dup-cluster census (the graph.py unrolled
    min-label program over the exact-Jaccard pair graph) + the three
    certification flags the streaming side computes live."""
    from lakehouse_tacklebox_spark.queries.graph import (
        _CC_ITERS,
        _PAIR_CTE,
        _cc_stage_sql,
    )

    parts = [_PAIR_CTE]
    for k in range(1, _CC_ITERS + 1):
        parts.append(_cc_stage_sql(k))
    parts.append(
        f"""
    SELECT CAST(label AS BIGINT) AS cluster_label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(node) AS BIGINT) AS max_doc,
           (SELECT CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS INT)
            FROM m{_CC_ITERS} a JOIN m{_CC_ITERS - 1} b USING (node)
            WHERE a.label <> b.label) AS converged,
           CAST(1 AS INT) AS census_match,
           CAST(1 AS INT) AS replay_noop
    FROM m{_CC_ITERS}
    GROUP BY label
    ORDER BY n_docs DESC, cluster_label
    """
    )
    return "\n".join(parts)


@register(
    "stream_cc_labels_mv",
    tags=("streaming", "graph", "dedup", "incremental", "tablestore", "certification"),
    # Streaming CLOSE of the CC family: dup-cluster labels maintained as
    # a materialized view under document ingest. Per micro-batch the
    # batch signs itself, probes the persisted band-bucket index for
    # history candidates (the dedup_incremental_lsh posture), exact-
    # verifies only the candidates, folds the new pairs into the label
    # STORE by label-graph contraction (operators/graphops.py
    # merge_labels_incremental — the label graph has one node per
    # touched component, so the merge prices at batch size), and MERGEs
    # only the rows whose label changed. Min-label canonicality makes
    # the final store equal a from-scratch CC over all pairs REGARDLESS
    # of how ingest was batched; census_match certifies that equality
    # by 4-fold row-set signature, replay_noop certifies idempotent
    # epoch retry, converged certifies the recompute's fixed point on
    # both engines.
    oracle=_cc_mv_oracle(),
)
def stream_cc_labels_mv(spark, sf_dir):
    """Dup-cluster connected-component labels as a streaming MV: ingest
    the corpus in micro-batches (availableNow), maintain (band-bucket
    index, label store) TackleTables per epoch — probe, verify, merge
    labels by contraction, upsert only changed rows — then serve the
    cluster census from the read-back store alone. Flags: census_match
    (store == from-scratch CC census), converged, replay_noop. At
    100 TB: per-batch cost ∝ batch + matched candidates + touched
    components; history text is re-read only per matched doc; the
    label store is scanned but only changed rows are written."""
    import os
    import shutil
    import tempfile

    from lakehouse_tacklebox_spark.operators import dedup as D
    from lakehouse_tacklebox_spark.operators import graphops as G
    from lakehouse_tacklebox_spark.operators.signature import rowset_signature
    from lakehouse_tacklebox_spark.queries import fixtures as FX
    from lakehouse_tacklebox_spark.queries.graph import _CC_ITERS
    from lakehouse_tacklebox_spark.queries.textops import _spread
    from lakehouse_tacklebox_spark.streaming.mv import run_mv
    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = _spread(load_tables(spark, sf_dir, ["documents"])["documents"])
    # per-doc structures are split-invariant, so sign once up front; a
    # batch selects ITS rows by semi-join (cost ∝ batch)
    sh = D.shingle_hashes(d.select("doc_id", "text"), "text", n=3).persist()
    tmp = tempfile.mkdtemp(prefix="cc_mv_")
    idx_dir = os.path.join(tmp, "idx")
    lab_dir = os.path.join(tmp, "labels")
    try:
        sigs = (
            D.minhash_signatures(sh, "doc_id", "shingles", num_hashes=48)
            .filter(F.col("sig").getItem(0).isNotNull())
            .localCheckpoint(eager=True)
        )
        TackleTable.create(
            spark, idx_dir, schema="doc_id bigint, band int, band_hash bigint"
        )
        TackleTable.create(spark, lab_dir, schema="node bigint, label bigint")

        def _apply(batch_df, epoch):
            s = batch_df.sparkSession
            it = TackleTable(s, idx_dir)
            lt = TackleTable(s, lab_dir)
            if lt.txn_version("cc_labels") >= epoch and it.txn_version("cc_idx") >= epoch:
                return  # replayed epoch: both effects already committed
            ids = batch_df.select("doc_id").distinct().localCheckpoint(eager=True)
            bsigs = sigs.join(ids, "doc_id")
            bbuckets = D.lsh_band_buckets(bsigs, "doc_id", bands=16, rows_per_band=3).select(
                F.col("doc_id").cast("bigint"),
                F.col("band").cast("int"),
                F.col("band_hash").cast("bigint"),
            ).localCheckpoint(eager=True)
            stored = it.read()
            # id_a < id_b (not <=): on a crash-retry where the index append
            # committed but the label merge didn't, `stored` already holds
            # this batch's buckets, and the probe would otherwise emit
            # degenerate self-pairs
            cross = (
                bbuckets.select(F.col("doc_id").alias("inc_id"), "band", "band_hash")
                .join(
                    stored.select(F.col("doc_id").alias("ex_id"), "band", "band_hash"),
                    ["band", "band_hash"],
                )
                .select(
                    F.least("inc_id", "ex_id").alias("id_a"),
                    F.greatest("inc_id", "ex_id").alias("id_b"),
                )
                .filter(F.col("id_a") < F.col("id_b"))
            )
            a = bbuckets.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
            b = bbuckets.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
            within = (
                a.join(b, ["band", "band_hash"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            cand = cross.unionByName(within).distinct()
            new_pairs = (
                D.jaccard_for_pairs(cand, sh, "doc_id", "shingles")
                .filter(F.col("jaccard") >= 0.2)
                .select(
                    F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"),
                )
                .localCheckpoint(eager=True)
            )
            base = lt.read()
            merged = G.merge_labels_incremental(base, new_pairs, _CC_ITERS).select(
                F.col("node").cast("bigint"), F.col("label").cast("bigint")
            )
            # upsert ONLY drifted/new rows — the store scan is the join below,
            # but the write is change-sized; the MERGE and the append each
            # no-op on their own stamp after a crash between them
            changed = (
                merged.join(base.withColumnRenamed("label", "old_label"), "node", "left")
                .filter(
                    F.col("old_label").isNull() | (F.col("old_label") != F.col("label"))
                )
                .select("node", "label")
                .localCheckpoint(eager=True)
            )
            (
                lt.merge(changed, on=["node"])
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .withTransaction("cc_labels", epoch)
                .execute()
            )
            it.append(bbuckets, txn=("cc_idx", epoch))

        replay_noop = run_mv(
            spark, d.select("doc_id").repartition(3), _apply, [idx_dir, lab_dir]
        )

        back = TackleTable(spark, lab_dir).read().localCheckpoint(eager=True)

        # from-scratch truth: CC over the full exact pair set. Iterations
        # past the certified fixed point are skipped (label-sum
        # monotonicity — identical labels), and the converged bool IS
        # "labels stable between the last two iterations", replacing the
        # former full-frame equality join + count with one scalar per step.
        pairs_full = FX.frozen_dup_pairs(spark, sf_dir)
        full, cc_converged = G.cc_min_label_converged(
            G.symmetric_edges(pairs_full), _CC_ITERS
        )

        def census(labels):
            return labels.groupBy(F.col("label").alias("cluster_label")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.max("node").cast("bigint").alias("max_doc"),
            )

        cols = ["cluster_label", "n_docs", "max_doc"]
        mv_census = census(back).localCheckpoint(eager=True)
        census_match = rowset_signature(mv_census, cols) == rowset_signature(
            census(full), cols
        )
        return (
            mv_census.withColumn("converged", F.lit(1 if cc_converged else 0).cast("int"))
            .withColumn("census_match", F.lit(1 if census_match else 0).cast("int"))
            .withColumn("replay_noop", F.lit(1 if replay_noop else 0).cast("int"))
            .orderBy(F.col("n_docs").desc(), "cluster_label")
        )
    finally:
        sh.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
