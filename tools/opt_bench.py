"""The subprocess timer: isolated per-entry timing + formatted plan capture.

Times the named registry entries in a fresh process with
``session.get_spark``'s confs: per entry an un-timed warm-up run, then
``benchmark/measure.py::time_entry`` (min of ``--reps`` timed
``count()`` reps under a job group named after the entry, cache cleared
between reps, persisted RDDs released after the last). Optionally writes
``df.explain("formatted")`` to ``plans/<round>/<name>_<tag>.txt`` so
before/after plan claims are checkable without running Spark.

``--tree DIR`` times DIR's ``REGISTRY`` with DIR's ``get_spark`` (another
checkout, e.g. a ``git archive`` of an older commit); the timer itself is
always this checkout's ``measure.py``. ``--budget-s`` starts no entry,
and no rep after an entry's first, once that many seconds have passed.

Usage:
    python tools/opt_bench.py <tag> <name> [name ...]   # time + plans
    python tools/opt_bench.py --plans-only <tag> <name> [name ...]
    python tools/opt_bench.py --time-only [--reps N] [--budget-s S]
                              [--tree DIR] <tag> <name> [name ...]

The scale comes from ``$SPARK_GRAFT_SF_DIR`` (default sf0.1). ``<tag>``
is usually ``before`` or ``after``. Prints one line:
``OPT_BENCH_JSON:{"tag": ..., "sf_dir": ..., "queries": {name: sec}}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PLANS_DIR = REPO / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")


def load_measure():
    # by path: with --tree the package on sys.path is the other checkout's
    path = REPO / "lakehouse_tacklebox_spark" / "benchmark" / "measure.py"
    spec = importlib.util.spec_from_file_location("opt_bench_measure", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def capture_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--plans-only", action="store_true")
    mode.add_argument("--time-only", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--budget-s", type=float, default=None)
    ap.add_argument("--tree", default=str(REPO))
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    deadline = None if args.budget_s is None else time.perf_counter() + args.budget_s

    sys.path.insert(0, os.path.abspath(args.tree))
    from lakehouse_tacklebox_spark.queries import REGISTRY
    from lakehouse_tacklebox_spark.session import get_spark

    time_entry = load_measure().time_entry
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"opt_bench_{args.tag}")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, float] = {}
    for n in args.names:
        if deadline is not None and time.perf_counter() > deadline:
            break
        fn = REGISTRY[n].fn
        df = fn(spark, sf_dir)
        if not args.time_only:
            PLANS_DIR.mkdir(parents=True, exist_ok=True)
            (PLANS_DIR / f"{n}_{args.tag}.txt").write_text(capture_plan(df))
        df.count()  # warm-up: plan compile + JIT
        spark.catalog.clearCache()
        if args.plans_only:
            continue
        out[n] = time_entry(spark, n, fn, sf_dir, args.reps, deadline)
        print(f"  {n}: {out[n]}s", file=sys.stderr)
    print("OPT_BENCH_JSON:" + json.dumps({"tag": args.tag, "sf_dir": sf_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
