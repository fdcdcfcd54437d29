"""The workloads. Each returns its end-to-end metrics and leaves the
details behind them in ``run.notes`` for the report.

An op is one registry entry: a query in ``olap_mix``, an iterative or
streaming entry in ``iterative_ops``. Both run over the tables in
``perfbench/data`` (the sf0.01 corpora the package's oracle tests use:
60k lineitem rows).
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import gen
import oracle

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SETUP_ROUNDS = 2  # cold session starts per run; setup_s takes their median
ITERATIVE = [
    "graph_cc_labels",
    "dedup_incremental_lsh",
    "stream_incremental_mv",
]
OLAP_STRIDE = 5  # every 5th of the 50 analytical entries: 5 TPC-H, 5 TPC-DS
# --seconds sets a fixed amount of work, not a deadline: a deadline lets
# a slightly faster run squeeze in one more (warmer) pass, which moves
# every metric. These are the seconds one timed pass takes on a 4-core
# machine; a run times round(seconds / pass seconds) passes, at least one.
OLAP_PASS_S = 5.0
ITER_PASS_S = 15.0


def passes_for(seconds: float, pass_s: float) -> int:
    return max(1, round(seconds / pass_s))


def olap_names() -> list[str]:
    """Every tpch* entry plus the bench-flagged tpcds_shapes* entries,
    in registry order, thinned to every OLAP_STRIDE-th."""
    from lakehouse_tacklebox_spark.queries import REGISTRY

    out = []
    for name, spec in REGISTRY.items():
        mod = spec.fn.__module__.rsplit(".", 1)[1]
        if mod.startswith("tpch") or (mod.startswith("tpcds_shapes") and spec.bench):
            out.append(name)
    return out[::OLAP_STRIDE]


def _prepare_tables(run):
    """Setup-round body: copy the tables into a fresh dir of the run's
    scratch, so nothing the program does can touch the checkout's copy."""
    state: dict = {}

    def prepare(r: int) -> None:
        d = os.path.join(run.work, f"data{r}")
        os.makedirs(d)
        for t in oracle.TABLES:
            shutil.copyfile(os.path.join(DATA, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        if "dir" in state:
            shutil.rmtree(state["dir"], ignore_errors=True)
        state["dir"] = d

    return state, prepare


def _query_body(run, spec, data_dir: str):
    """Build the entry's DataFrame and consume every row and column."""

    def body():
        tr = run.tracer
        sp = tr.open("queries.build", "queries") if tr else None
        t0 = time.perf_counter()
        df = spec.fn(run.spark, data_dir)
        t1 = time.perf_counter()
        if tr:
            tr.close(sp)
            sp = tr.open("queries.result", "queries")
        cols, rows = df.columns, df.collect()
        t2 = time.perf_counter()
        if tr:
            tr.close(sp)
            with tr._lock:
                tr.layer_s["queries.build"] += t1 - t0
                tr.layer_s["queries.result"] += t2 - t1
        return cols, rows

    return body


def _checker(expected):
    return lambda result: oracle.compare(expected, *result)


def _expected(run, names, data_dir):
    from lakehouse_tacklebox_spark.queries import REGISTRY

    t0 = time.perf_counter()
    exp = oracle.expected_answers(data_dir, {n: REGISTRY[n].oracle for n in names})
    run.notes["oracle_s"] = round(time.perf_counter() - t0, 3)
    return exp


def _start_measure(run, serial: bool):
    run.start_window()
    if run.tracer is not None:
        from tracing import SparkProbe

        from lakehouse_tacklebox_spark.streaming.monitor import StreamMetricsCollector

        run.tracer.reset_layers()
        run.probe = SparkProbe(run.spark, serial=serial)
        run.collector = StreamMetricsCollector()
        run.spark.streams.addListener(run.collector)


# ------------------------------------------------------------------ olap


def olap_mix(run):
    from lakehouse_tacklebox_spark.queries import REGISTRY

    names = olap_names()
    clients = min(4, run.machine["cores"])
    state, prepare = _prepare_tables(run)
    run.setup(SETUP_ROUNDS, prepare)
    data = state["dir"]
    expected = _expected(run, names, data)

    def client(c: int, queue: list, measured: bool) -> None:
        k = 0
        while True:
            with lock:
                if not queue:
                    return
                name = queue.pop(0)
            run.run_op(name, _query_body(run, REGISTRY[name], data), _checker(expected[name]),
                       group=f"c{c}-{k}-{name}", measured=measured)
            k += 1

    def in_threads(queue, measured) -> None:
        threads = [threading.Thread(target=client, args=(c, queue, measured)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    lock = threading.Lock()
    # warm-up pass: every entry once, spread over the clients
    t0 = time.perf_counter()
    in_threads(list(names), False)
    warmup_s = time.perf_counter() - t0
    run.check_leaks()

    # one shared queue of whole seed-ordered passes, so every entry runs
    # equally often and the mix of a run does not depend on the seed
    _start_measure(run, serial=False)
    passes = passes_for(run.seconds, OLAP_PASS_S)
    queue = [n for k in range(1, passes + 1) for n in gen.pass_order(run.seed, names, k)]
    start = time.time()
    in_threads(queue, True)
    makespan = max(o["end"] for o in run.ops) - start
    run.check_leaks()
    run.notes.update(warmup_s=round(warmup_s, 3), clients=clients, queries=names, passes=passes)
    return run.end_to_end(makespan, warmup_s)


# ------------------------------------------------------------- iterative


def iterative_ops(run):
    from lakehouse_tacklebox_spark.queries import REGISTRY

    state, prepare = _prepare_tables(run)
    run.setup(SETUP_ROUNDS, prepare)
    data = state["dir"]
    expected = _expected(run, ITERATIVE, data)

    def op(name: str, group: str, measured: bool, serial: bool) -> None:
        run.run_op(name, _query_body(run, REGISTRY[name], data), _checker(expected[name]),
                   group=group, measured=measured, serial=serial)

    def one_pass(k: int) -> None:
        for name in gen.pass_order(run.seed, ITERATIVE, k):
            op(name, f"p{k}-{name}", True, True)
            run.check_leaks()

    # warm-up: every entry once, all at the same time. A first run is
    # mostly JIT compilation on the JVM's compiler threads, which the
    # entries overlap: about 32 s on 4 vCPUs, against 41 s one by one.
    t0 = time.perf_counter()
    threads = [threading.Thread(target=op, args=(name, f"w-{name}", False, False)) for name in ITERATIVE]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run.check_leaks()
    warmup_s = time.perf_counter() - t0

    _start_measure(run, serial=True)
    passes = passes_for(run.seconds, ITER_PASS_S)
    start = time.time()
    for k in range(1, passes + 1):
        one_pass(k)
    makespan = time.time() - start
    run.notes.update(warmup_s=round(warmup_s, 3), passes=passes,
                     warmup_entry_s={o["name"]: round(o["latency"], 3) for o in run.checks},
                     per_entry_s={n: [round(o["latency"], 3) for o in run.ops if o["name"] == n] for n in ITERATIVE})
    return run.end_to_end(makespan, warmup_s)


WORKLOADS = {"olap_mix": olap_mix, "iterative_ops": iterative_ops}
