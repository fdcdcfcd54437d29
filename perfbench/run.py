"""The repo benchmark: one seeded workload, checked, with its metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with every layer's public
functions wrapped and prints the per-layer metrics, writing its spans to
``.perfbench_out/``. The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics; the line before it is a
JSON report with the session, the seed and the details behind the
metrics. Exits non-zero without a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E = {
    "setup_s": "s",
    "ops_per_min": "ops/min",
    "op_p50_s": "s",
    "cpu_s_per_op": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_tables_s": "s",
    "sources.load_tables_calls": "count",
    "queries.build_s": "s",
    "queries.result_s": "s",
    "operators.graphops_s": "s",
    "operators.dedup_s": "s",
    "operators.calls": "count",
    "tablestore.commit_s": "s",
    "tablestore.metadata_s": "s",
    "tablestore.read_s": "s",
    "tablestore.commits": "count",
    "tablestore.log_versions": "count",
    "tablestore.active_files": "count",
    "tablestore.bytes_written": "bytes",
    "tablestore.conflicts": "count",
    "tablestore.scan_kept_ratio": "fraction",
    "streaming.epochs": "count",
    "streaming.epoch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_share": "fraction",
    "spark.stage_wait_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.persisted_rdds_leaked": "count",
    "fs.tmp_dirs_leaked": "count",
    "trace.ops_per_min": "ops/min",
    "trace.op_p50_s": "s",
    "trace.cpu_s_per_op": "s",
}


def layer_metrics(run, e2e: dict) -> tuple[dict, dict]:
    """Per-layer values from the traced run, plus reasons for any that
    could not be read."""
    from tracing import epoch_spans, streaming_metrics

    tr = run.tracer
    time.sleep(1.0)  # the streaming listener bus delivers asynchronously
    run.spark.streams.removeListener(run.collector)
    events = list(run.collector.events)
    epoch_spans(tr, events)
    ls, c = tr.layer_s, tr.counts
    kept = tr.ratios.get("tablestore.scan_kept_ratio", [])
    vals = {
        "session.start_s": statistics.median(r["session_s"] for r in run.setup_rounds),
        "sources.load_tables_s": ls["sources"],
        "sources.load_tables_calls": c["sources.calls"],
        "queries.build_s": ls["queries.build"],
        "queries.result_s": ls["queries.result"],
        "operators.graphops_s": ls["operators.graphops"],
        "operators.dedup_s": ls["operators.dedup"],
        "operators.calls": c["operators.graphops.calls"] + c["operators.dedup.calls"],
        "tablestore.commit_s": ls["tablestore.commit"],
        "tablestore.metadata_s": ls["tablestore.metadata"],
        "tablestore.read_s": ls["tablestore.read"],
        "tablestore.commits": c["tablestore.commits"],
        "tablestore.log_versions": tr.maxima["tablestore.log_versions"],
        "tablestore.active_files": tr.maxima["tablestore.active_files"],
        "tablestore.bytes_written": c["tablestore.bytes_written"],
        "tablestore.conflicts": c["tablestore.conflicts"],
        "tablestore.scan_kept_ratio": sum(kept) / len(kept) if kept else 0.0,
        **streaming_metrics(events),
        **run.probe.metrics(),
        "spark.persisted_rdds_leaked": run.persisted_leaked,
        "fs.tmp_dirs_leaked": run.tmp_leaked,
        "trace.ops_per_min": e2e["ops_per_min"],
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.cpu_s_per_op": e2e["cpu_s_per_op"],
    }
    missing = {}
    if not kept:
        missing["tablestore.scan_kept_ratio"] = "no point-lookup scan ran in this workload"
    if not events:
        missing["streaming.*"] = "no streaming query ran in this workload"
    return vals, missing


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap_mix", "iterative_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "lakehouse_tacklebox_spark")):
        print("perfbench: the lakehouse_tacklebox_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, REPO)

    from harness import Run
    from workloads import WORKLOADS

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        e2e = WORKLOADS[args.workload](run)
        report = {
            "env": run.env(),
            "setup_rounds": run.setup_rounds,
            "fail_ratio": sum(1 for o in run.ops if o["error"]) / len(run.ops) if run.ops else None,
            "failures": [{"name": o["name"], "error": o["error"]} for o in run.ops + run.checks if o["error"]][:20],
            "guards": {"persisted_rdds_leaked": run.persisted_leaked, "tmp_dirs_leaked": run.tmp_leaked},
            **run.notes,
        }
        if args.trace:
            vals, missing = layer_metrics(run, e2e)
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in PER_LAYER.items()}
            report["unreadable"] = missing
            out_dir = os.path.join(REPO, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            run.tracer.dump(spans_path)
            report["spans"] = {"path": os.path.relpath(spans_path, REPO), "count": len(run.tracer.spans)}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
        failed = run.failed_count()
        result = {
            "correct": failed == 0,
            "attempted": run.attempted_count(),
            "failed": failed,
            "metrics": metrics,
        }
    except Exception:  # noqa: BLE001 — a harness fault: no result line
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
