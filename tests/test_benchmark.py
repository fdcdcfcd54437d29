"""Benchmark runner + replay: concurrency, stats, offset fidelity."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.benchmark import BenchmarkRunner, replay_with_offsets
from lakehouse_tacklebox_spark.benchmark.replay import with_offsets
from lakehouse_tacklebox_spark.sources import load_tables

SF_DIR = "/root/testdata/sf0.001"


def _queries(spark):
    nation = load_tables(spark, SF_DIR, ["nation"])["nation"]
    nation.createOrReplaceTempView("bench_nation")
    return {
        "count": lambda s: s.table("bench_nation"),
        "agg": lambda s: s.table("bench_nation").groupBy("n_regionkey").count(),
        "boom": lambda s: s.table("no_such_table"),
    }


def test_runner_records_success_and_failure(spark):
    r = BenchmarkRunner(spark, _queries(spark), concurrency=3, repetitions=2, warmup=False).run()
    assert len(r.results) == 6
    summary = {row.name: row for row in r.summary_df().collect()}
    assert summary["count"].runs == 2 and summary["count"].failures == 0
    assert summary["boom"].failures == 2
    assert summary["agg"].avg_s > 0
    assert r.qpm() > 0
    # concurrent execution: at least two distinct worker threads used
    assert len({x.thread for x in r.results}) >= 2


def test_replay_respects_offsets(spark):
    ts = lambda s: datetime(2025, 1, 1, 12, 0, s, tzinfo=timezone.utc)  # noqa: E731
    hist = spark.createDataFrame(
        [("SELECT 1 AS x", ts(0), 0.5), ("SELECT 2 AS x", ts(2), 0.5), ("SELECT 3 AS x", ts(1), 0.5)],
        "query_text string, start_ts timestamp, duration_s double",
    )
    offs = with_offsets(hist)
    assert {r.offset_s for r in offs.collect()} == {0.0, 1.0, 2.0}
    out = replay_with_offsets(spark, offs, time_scale=0.2, max_workers=3)
    rows = out.collect()
    assert len(rows) == 3
    assert all(r.status == "SUCCESS" for r in rows)
    assert all(r.speedup is not None for r in rows)


def test_sf1_scaling_probe_keeps_surviving_leg(monkeypatch):
    import json
    import subprocess

    import bench

    calls = []

    def fake_run(cmd, env, timeout, **kw):
        calls.append((env, timeout))
        if env["SPARK_GRAFT_CPUS"] == "2":
            raise subprocess.TimeoutExpired(cmd, timeout)
        out = "OPT_BENCH_JSON:" + json.dumps({"cpus": 8, "queries": {"a": 1.5, "b": 0.5}})
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_MASTER", "local[8]")
    monkeypatch.setenv("SPARK_GRAFT_SF1_SCALING_BUDGET_S", "100")
    got = bench.run_sf1_scaling_probe({"queries": {"a": 9.0, "b": 3.0}})

    assert [e["SPARK_GRAFT_CPUS"] for e, _ in calls] == ["8", "2"]
    assert all("SPARK_MASTER" not in e for e, _ in calls)
    assert {t for _, t in calls} == {320.0}
    assert got["hi_s"] == {"a": 1.5, "b": 0.5} and got["lo_s"] == {}
    assert got["lo_over_hi_ratio"] == {}


def test_time_entry_reps_deadline_job_group_and_release(spark):
    import time

    from lakehouse_tacklebox_spark.benchmark.measure import time_entry

    calls = []

    def fn(s, sf_dir):
        calls.append(sf_dir)
        return load_tables(s, sf_dir, ["nation"])["nation"].localCheckpoint(eager=True)

    sc = spark.sparkContext
    t = time_entry(spark, "timed_nation", fn, SF_DIR, reps=3)
    assert calls == [SF_DIR] * 3
    assert 0 < t == round(t, 3)
    assert sc.statusTracker().getJobIdsForGroup("timed_nation")
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    # DataFrame.unpersist would leave the checkpoint's blocks behind
    assert dict(sc._jsc.getPersistentRDDs()) == {}

    calls.clear()
    time_entry(spark, "timed_nation", fn, SF_DIR, reps=3, deadline=time.perf_counter() - 1)
    assert len(calls) == 1
    assert dict(sc._jsc.getPersistentRDDs()) == {}


def test_drift_ab_times_both_sides_with_opt_bench(monkeypatch, capsys):
    import importlib
    import json
    import subprocess
    import sys
    from pathlib import Path

    tools = Path(__file__).resolve().parent.parent / "tools"
    monkeypatch.syspath_prepend(str(tools))
    drift_ab = importlib.import_module("drift_ab")
    legs = []

    def fake_run(cmd, **kw):
        if cmd[0] in ("git", "tar"):
            return subprocess.CompletedProcess(cmd, 0, stdout=b"", stderr=b"")
        legs.append((cmd, kw["env"]))
        names = cmd[cmd.index("--tree") + 3:]
        out = "OPT_BENCH_JSON:" + json.dumps({"queries": {n: 1.0 for n in names}})
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["drift_ab.py", "HEAD~1", SF_DIR, "2"])
    drift_ab.main()

    cmds = [c for c, _ in legs]
    assert [c[1] for c in cmds] == [str(tools / "opt_bench.py")] * 4
    assert all("--time-only" in c for c in cmds)
    sides = [c[c.index("--tree") + 1: c.index("--tree") + 3] for c in cmds]
    assert [tag for _, tag in sides] == ["current", "prior", "prior", "current"]
    assert sides[0][0] == sides[3][0] == drift_ab.REPO != sides[1][0] == sides[2][0]
    assert all(env["SPARK_GRAFT_SF_DIR"] == SF_DIR for _, env in legs)
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["queries"] == drift_ab.bench.DRIFT_SUBSET[:2]
    assert rec["current_over_prior"] == 1.0


def test_olap_mix_entries_are_pinned(monkeypatch):
    """perfbench's olap_mix takes every OLAP_STRIDE-th analytical entry in
    registry order, and queries/__init__.py's correctness window reorders
    the registry: editing the window must not silently swap the queries
    the benchmark times."""
    import importlib
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "perfbench"))
    workloads = importlib.import_module("workloads")
    assert workloads.olap_names() == [
        "q1_pricing_summary",
        "q6_forecast_revenue",
        "q11_important_part_value",
        "q17_small_quantity_revenue",
        "q22_dormant_customer_balance",
        "ds_cumulative_channel_compare",
        "ds_above_segment_avg",
        "ds_quarterly_share_shift",
        "ds_growth_streaks",
        "ds_high_return_customers",
    ]
