"""Stateful streaming operators (applyInPandasWithState): exactly-one
emission per key across micro-batches AND across query restarts (state
survives through the checkpoint), plus cumulative running aggregates."""

from __future__ import annotations

import json
import time
import uuid

from lakehouse_tacklebox_spark.streaming import (
    file_stream,
    stateful_dedup,
    stateful_running_agg,
)

SCHEMA = "k string, v long, seq long"


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_to_memory(df, mode):
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).trigger(availableNow=True).start()
    _await_then_stop(q)
    return name


def _run_checkpointed(df, mode, ckpt, outdir):
    # memory sink can't recover from a checkpoint; foreachBatch → parquet can
    q = (
        df.writeStream.foreachBatch(
            lambda batch, _eid: batch.write.mode("append").parquet(outdir)
        )
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_then_stop(q)
    return outdir


def _await_then_stop(q):
    # An availableNow query ends by itself once its input is processed,
    # unless it registered state timeouts: then it runs timer-only
    # batches for good, and processAllAvailable() never returns for it.
    # Its answer is in the sink once a batch has read no new input, so
    # wait for that (or the end, which re-raises a failure), then stop
    # the query so it cannot run on into later tests. A restart first
    # re-runs the batch that the last stop cut short, which reads no new
    # input either, so only a batch after this run's first one counts.
    deadline = time.monotonic() + 120
    while not q.awaitTermination(0.1) and time.monotonic() < deadline:
        p = q.lastProgress
        if (
            p
            and p["batchId"] > q.recentProgress[0]["batchId"]
            and all(src["startOffset"] == src["endOffset"] for src in p["sources"])
        ):
            break
    q.stop()


def test_stateful_dedup_within_batch_picks_min_order(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write(src / "b1.json", [
        {"k": "a", "v": 30, "seq": 3},
        {"k": "a", "v": 10, "seq": 1},
        {"k": "a", "v": 20, "seq": 2},
        {"k": "b", "v": 5, "seq": 9},
    ])
    stream = file_stream(spark, str(src), SCHEMA, fmt="json")
    out = stateful_dedup(stream, keys=["k"], order_by=["seq"])
    sink = _run_to_memory(out, "append")
    got = {r["k"]: (r["v"], r["seq"]) for r in spark.table(sink).collect()}
    assert got == {"a": (10, 1), "b": (5, 9)}


def test_stateful_dedup_state_survives_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write(src / "b1.json", [{"k": "a", "v": 1, "seq": 1}, {"k": "b", "v": 2, "seq": 1}])

    stream = file_stream(spark, str(src), SCHEMA, fmt="json")
    out1 = _run_checkpointed(stateful_dedup(stream, ["k"], ["seq"]), "append", ckpt, str(tmp_path / "out1"))
    assert {r["k"] for r in spark.read.parquet(out1).collect()} == {"a", "b"}

    # second run, same checkpoint: 'a' is remembered, only 'c' emits
    _write(src / "b2.json", [{"k": "a", "v": 99, "seq": 0}, {"k": "c", "v": 3, "seq": 1}])
    stream2 = file_stream(spark, str(src), SCHEMA, fmt="json")
    out2 = _run_checkpointed(stateful_dedup(stream2, ["k"], ["seq"]), "append", ckpt, str(tmp_path / "out2"))
    assert {r["k"] for r in spark.read.parquet(out2).collect()} == {"c"}


def test_stateful_running_agg_accumulates_across_restarts(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write(src / "b1.json", [
        {"k": "a", "v": 1, "seq": 1},
        {"k": "a", "v": 2, "seq": 2},
        {"k": "b", "v": 5, "seq": 1},
    ])
    stream = file_stream(spark, str(src), SCHEMA, fmt="json")
    out1 = _run_checkpointed(stateful_running_agg(stream, ["k"], "v"), "update", ckpt, str(tmp_path / "out1"))
    got1 = {r["k"]: (r["n_events"], r["total"], r["vmin"], r["vmax"]) for r in spark.read.parquet(out1).collect()}
    assert got1 == {"a": (2, 3.0, 1.0, 2.0), "b": (1, 5.0, 5.0, 5.0)}

    # second batch: only 'a' gets traffic → only 'a' re-emits, cumulatively
    _write(src / "b2.json", [{"k": "a", "v": 4, "seq": 3}])
    stream2 = file_stream(spark, str(src), SCHEMA, fmt="json")
    out2 = _run_checkpointed(stateful_running_agg(stream2, ["k"], "v"), "update", ckpt, str(tmp_path / "out2"))
    got2 = {r["k"]: (r["n_events"], r["total"]) for r in spark.read.parquet(out2).collect()}
    assert got2 == {"a": (3, 7.0)}


def test_stateful_dedup_with_ttl_runs(spark, tmp_path):
    # TTL path exercises setTimeoutDuration; expiry itself is wall-clock
    # dependent so only the non-expired contract is asserted here.
    src = tmp_path / "src"
    src.mkdir()
    _write(src / "b1.json", [{"k": "a", "v": 1, "seq": 1}, {"k": "a", "v": 2, "seq": 2}])
    stream = file_stream(spark, str(src), SCHEMA, fmt="json")
    out = stateful_dedup(stream, ["k"], ["seq"], ttl_minutes=10)
    sink = _run_to_memory(out, "append")
    rows = spark.table(sink).collect()
    assert len(rows) == 1 and rows[0]["seq"] == 1


def test_restart_replaying_a_timer_batch_still_reads_new_input(spark, tmp_path):
    # Stopping a query with state timeouts can land inside a timer-only
    # batch: its offsets are logged, its commit is not, and the restart
    # re-runs it (no new input) before the batch that reads b2.json.
    # Dropping the newest commit makes that case certain.
    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    _write(src / "b1.json", [{"k": "a", "v": 1, "seq": 1}])
    stream = file_stream(spark, str(src), SCHEMA, fmt="json")
    out1 = _run_checkpointed(
        stateful_dedup(stream, ["k"], ["seq"], ttl_minutes=10), "append", str(ckpt), str(tmp_path / "out1")
    )
    assert {r["k"] for r in spark.read.parquet(out1).collect()} == {"a"}

    last = max(int(p.name) for p in (ckpt / "commits").glob("[0-9]*"))
    assert last >= 1, "run 1 must have committed a timer-only batch after the data batch"
    for log, first in (("offsets", last + 1), ("commits", last)):
        for p in (ckpt / log).iterdir():
            if int(p.name.strip(".").split(".")[0]) >= first:
                p.unlink()

    _write(src / "b2.json", [{"k": "a", "v": 9, "seq": 0}, {"k": "c", "v": 3, "seq": 1}])
    stream2 = file_stream(spark, str(src), SCHEMA, fmt="json")
    out2 = _run_checkpointed(
        stateful_dedup(stream2, ["k"], ["seq"], ttl_minutes=10), "append", str(ckpt), str(tmp_path / "out2")
    )
    assert {r["k"] for r in spark.read.parquet(out2).collect()} == {"c"}


def test_user_stats_battery_invariant_to_microbatch_count(spark, tmp_path):
    """CORRECTNESS_r01 regression: update-mode memory sinks accumulate one
    row per key per micro-batch, so the battery's keep-latest reduction
    must equal the batch oracle no matter how the source is split.
    Force >=2 micro-batches with maxFilesPerTrigger=1 over a 4-file copy."""
    import uuid

    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.sources import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
    cents = ev.select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    src = str(tmp_path / "events_split")
    cents.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_running_agg(stream, keys=["user_id"], value_col="cents")
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table(name)

    n_keys = cents.select("user_id").distinct().count()
    assert sink.count() > n_keys, "test must exercise the multi-batch case"

    latest = (
        sink.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total").cast("long").alias("total_cents"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in latest.collect()}
    expect = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in cents.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("total_cents"))
        .collect()
    }
    assert got == expect


def test_stateful_funnel_invariant_to_arrival_order(spark, tmp_path):
    """The funnel buffer must re-anchor under out-of-order arrival: split
    events into 4 micro-batches ordered so LATER batches carry EARLIER
    event times (descending-ts split), and the final census must equal
    the single-batch answer — the case single-pass incremental funnels
    get wrong (a late early 'view' can lower a user's stage)."""
    import uuid

    from pyspark.sql import functions as F

    from pyspark.sql import Window

    from lakehouse_tacklebox_spark.sources import load_tables
    from lakehouse_tacklebox_spark.streaming.stateful import stateful_funnel

    ev = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .select("user_id", "ts", "event_type")
    )
    # adversarial split: batch i holds the i-th descending-ts quartile,
    # so every later batch is entirely EARLIER in event time
    ranked = ev.withColumn(
        "q", F.ntile(4).over(Window.partitionBy().orderBy(F.desc("ts")))
    )
    src = str(tmp_path / "funnel_split")
    for i in range(1, 5):
        ranked.filter(F.col("q") == i).drop("q").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_funnel(stream, "user_id", "ts", "event_type")
    name = f"funnel_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table(name)
    assert sink.count() > sink.select("user_id").distinct().count(), (
        "test must exercise the multi-batch case"
    )
    latest = (
        sink.groupBy("user_id")
        .agg(F.max(F.struct("n_buffered", "stage")).alias("s"))
        .select("user_id", F.col("s.stage").alias("stage"))
    )
    got = {r.user_id: r.stage for r in latest.collect()}

    # batch reference: staged joins, same semantics as the oracle SQL
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS")))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS")))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    u1 = {r.user_id for r in s1.collect()}
    u2 = {r.user_id for r in s2.collect()}
    u3 = {r.user_id for r in s3.collect()}
    expect = {u: (3 if u in u3 else 2 if u in u2 else 1) for u in u1}
    assert got == expect


def test_stateful_funnel_buffer_truncation_flag(spark, tmp_path):
    """max_buffer is lossy only for view-less keys whose click/purchase
    tail exceeds the cap; the contract (ADVICE r7) is that such keys are
    MARKED, not silently under-reported. Key 'cap' gets 5 clicks and no
    view under max_buffer=2 -> sticky buffer_truncated; key 'ok' stays
    exact and unflagged."""
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.streaming.stateful import stateful_funnel

    rows = [("cap", 1_000 + i * 10, "click") for i in range(5)]
    rows += [("ok", 1_000, "view"), ("ok", 2_000, "click")]
    src = str(tmp_path / "trunc_src")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ns", "event_type"])
    ).select(
        "user_id", F.col("ns").cast("timestamp").alias("ts"), "event_type"
    ).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    out = stateful_funnel(stream, "user_id", "ts", "event_type", max_buffer=2)
    name = f"trunc_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table(name)
    flags = {r.user_id: r.buffer_truncated for r in sink.collect()}
    # view-less 'cap' emits nothing (stage 0) in this corpus, so surface
    # the flag by landing its view in a second pass that re-anchors
    spark.createDataFrame(
        pd.DataFrame([("cap", 900, "view")], columns=["user_id", "ns", "event_type"])
    ).select(
        "user_id", F.col("ns").cast("timestamp").alias("ts"), "event_type"
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = (
        stateful_funnel(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            "user_id", "ts", "event_type", max_buffer=2,
        )
        .writeStream.format("memory")
        .queryName(name + "b")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    sink2 = spark.table(name + "b")
    latest = (
        sink2.groupBy("user_id")
        .agg(F.max(F.struct("n_buffered", "stage", "buffer_truncated")).alias("s"))
        .select("user_id", "s.stage", "s.buffer_truncated")
    )
    got = {r.user_id: (r.stage, r.buffer_truncated) for r in latest.collect()}
    assert got["ok"] == (2, False), got
    # 'cap' kept only its 2 EARLIEST clicks; both are within the view's
    # 24h window, so stage 2 still lands — but the flag records that the
    # dropped tail makes the answer a lower bound, not exact
    assert got["cap"][1] is True, got


# ---- transformWithState (Spark-4 typed-state API) twins ----------------


def _tws_session(spark):
    """Set up TWS for a test: protobuf runtime + RocksDB provider conf.
    Returns a callable restoring the session conf."""
    from lakehouse_tacklebox_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        ensure_tws_runtime,
    )

    ensure_tws_runtime(spark)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)

    def restore():
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    return restore


def test_tws_dedup_first_row_and_restart(spark, tmp_path):
    # Same contract as test_stateful_dedup_state_survives_restart, on the
    # transformWithState API: typed value state in RocksDB survives a
    # query RESTART through the checkpoint — 'a' must not re-emit.
    from lakehouse_tacklebox_spark.streaming.stateful_v2 import tws_dedup

    restore = _tws_session(spark)
    try:
        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(src / "b1.json", [
            {"k": "a", "v": 30, "seq": 3},
            {"k": "a", "v": 10, "seq": 1},
            {"k": "b", "v": 2, "seq": 1},
        ])
        stream = file_stream(spark, str(src), SCHEMA, fmt="json")
        out1 = _run_checkpointed(tws_dedup(stream, ["k"], ["seq"]), "append", ckpt, str(tmp_path / "out1"))
        got1 = {r["k"]: r["seq"] for r in spark.read.parquet(out1).collect()}
        assert got1 == {"a": 1, "b": 1}  # within-batch min ordering too

        _write(src / "b2.json", [{"k": "a", "v": 99, "seq": 0}, {"k": "c", "v": 3, "seq": 1}])
        stream2 = file_stream(spark, str(src), SCHEMA, fmt="json")
        out2 = _run_checkpointed(tws_dedup(stream2, ["k"], ["seq"]), "append", ckpt, str(tmp_path / "out2"))
        assert {r["k"] for r in spark.read.parquet(out2).collect()} == {"c"}
    finally:
        restore()


def test_tws_dedup_native_state_ttl_expires(spark, tmp_path):
    # With ttl_minutes the 'seen' value state carries a NATIVE TTL: after
    # it elapses the key may legitimately emit again (bounded-state mode).
    # 600 ms TTL + a 2 s wall gap makes expiry deterministic at batch time.
    import time

    from lakehouse_tacklebox_spark.streaming.stateful_v2 import tws_dedup

    restore = _tws_session(spark)
    try:
        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(src / "b1.json", [{"k": "a", "v": 1, "seq": 1}])
        stream = file_stream(spark, str(src), SCHEMA, fmt="json")
        out1 = _run_checkpointed(
            tws_dedup(stream, ["k"], ["seq"], ttl_minutes=0.01), "append", ckpt, str(tmp_path / "out1")
        )
        assert [r["k"] for r in spark.read.parquet(out1).collect()] == ["a"]

        time.sleep(2)
        _write(src / "b2.json", [{"k": "a", "v": 2, "seq": 2}])
        stream2 = file_stream(spark, str(src), SCHEMA, fmt="json")
        out2 = _run_checkpointed(
            tws_dedup(stream2, ["k"], ["seq"], ttl_minutes=0.01), "append", ckpt, str(tmp_path / "out2")
        )
        got2 = {(r["k"], r["seq"]) for r in spark.read.parquet(out2).collect()}
        assert got2 == {("a", 2)}  # state expired → the key re-emitted
    finally:
        restore()


def test_tws_timer_fires_and_finalizes(spark, tmp_path):
    # Timer semantics: first sight of a key registers a processing-time
    # timer; once it elapses, a subsequent micro-batch fires
    # handleExpiredTimer, which emits the (key, n, expired=1) tombstone
    # and clears the state. With registered timers the engine keeps
    # scheduling timer-check micro-batches even under availableNow (same
    # measured behavior as the funnel TTL note in stateful.py), so this
    # test polls the sink for the expiry row and then STOPS the query —
    # a checkpointed restart would leave a zombie stream.
    import time
    import uuid

    from lakehouse_tacklebox_spark.streaming.stateful_v2 import tws_key_expiry_marks

    restore = _tws_session(spark)
    q = None
    try:
        src = tmp_path / "src"
        src.mkdir()
        _write(src / "b1.json", [
            {"k": "a", "v": 1, "seq": 1},
            {"k": "a", "v": 2, "seq": 2},
        ])
        stream = file_stream(spark, str(src), SCHEMA, fmt="json")
        name = f"sink_{uuid.uuid4().hex[:8]}"
        q = (
            tws_key_expiry_marks(stream, "k", expiry_ms=500)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 90
        got = set()
        while time.time() < deadline:
            got = {(r["k"], r["n_rows"], r["expired"]) for r in spark.table(name).collect()}
            if ("a", 2, 1) in got:
                break
            time.sleep(1)
        assert ("a", 2, 0) in got  # the running count emitted pre-expiry
        assert ("a", 2, 1) in got  # the timer fired and finalized the key
    finally:
        if q is not None:
            q.stop()
        restore()
