"""Spans, layer wrappers and Spark status-store readers for the traced run.

Every wrapper is installed from here, around the package's public
functions: a function is replaced on every loaded module that binds it
by name (``queries/*`` import ``load_tables`` by name, so patching only
the defining module would miss those calls) and a method is replaced on
its class. Nothing inside the package changes.

A layer's time counts only its outermost call on each thread, so a
public method calling another public method of the same layer is not
counted twice; the nested call still gets its own span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime, timezone

from harness import dir_bytes
from stats import self_times, union_length

PKG = "lakehouse_tacklebox_spark"

TABLESTORE_GROUPS = {
    "commit": ("create", "append", "overwrite", "delete", "update", "optimize", "MergeBuilder.execute"),
    "metadata": ("version", "txn_version", "history", "detail", "properties"),
    "read": ("read", "scan"),
}


class Tracer:
    """In-memory span log plus per-layer time and counters."""

    def __init__(self):
        self.spans: list[dict] = []
        self.layer_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.maxima: dict[str, float] = defaultdict(float)
        self.ratios: dict[str, list[float]] = defaultdict(list)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.serial_op: dict | None = None  # the op, when one client runs

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def open(self, name: str, layer: str, op: str | None = None) -> dict:
        st = self._stack()
        parent = st[-1] if st else self.serial_op
        sp = {
            "id": self._new_id(),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        st.append(sp)
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def add_span(self, name: str, layer: str, start: float, end: float, parent: dict | None, **extra) -> None:
        sp = {
            "id": self._new_id(),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "start": start,
            "end": end,
            **extra,
        }
        with self._lock:
            self.spans.append(sp)

    # --------------------------------------------------------- wrappers
    def wrap(self, fn, name: str, group: str, before=None, after=None):
        """A wrapper timing ``fn`` into ``group``. Around an outermost call,
        ``before(args, kwargs)`` runs untimed first and ``after(args,
        result, error, state)`` once it has returned, with what
        ``before`` gave."""
        depth_key = "depth_" + group

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(self._local, depth_key, 0)
            state = before(args, kwargs) if before is not None and depth == 0 else None
            setattr(self._local, depth_key, depth + 1)
            sp = self.open(name, group)
            t0 = time.perf_counter()
            err = None
            try:
                result = fn(*args, **kwargs)
                return result
            except BaseException as e:
                err = e
                raise
            finally:
                dt = time.perf_counter() - t0
                self.close(sp)
                setattr(self._local, depth_key, depth)
                if depth == 0:
                    with self._lock:
                        self.layer_s[group] += dt
                        self.counts[group + ".calls"] += 1
                    if after is not None:
                        after(args, result if err is None else None, err, state)

        return wrapper

    def reset_layers(self) -> None:
        """Start the measured window: drop everything but session time."""
        with self._lock:
            keep = {k: v for k, v in self.layer_s.items() if k == "session"}
            self.layer_s = defaultdict(float, keep)
            self.counts = defaultdict(float, {k: v for k, v in self.counts.items() if k.startswith("session")})
            self.maxima = defaultdict(float)
            self.ratios = defaultdict(list)

    # ------------------------------------------------------------ output
    def dump(self, path: str) -> None:
        st = self_times([s for s in self.spans if s["end"] is not None])
        rows = [{**s, "self": st.get(s["id"])} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


def _rebind(orig, wrapper) -> None:
    """Replace ``orig`` by ``wrapper`` on every loaded package module
    that binds it by name."""
    for mod in list(sys.modules.values()):
        if not (getattr(mod, "__name__", "") or "").startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def _public_functions(module) -> list[str]:
    return [
        n
        for n, v in vars(module).items()
        if inspect.isfunction(v) and not n.startswith("_") and v.__module__ == module.__name__
    ]


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public functions of each package layer."""
    from lakehouse_tacklebox_spark import session
    from lakehouse_tacklebox_spark.operators import dedup, graphops
    from lakehouse_tacklebox_spark.sources import catalog
    from lakehouse_tacklebox_spark.tablestore import table as tt

    # the package re-exports the function under the submodule's name
    ac = importlib.import_module("lakehouse_tacklebox_spark.streaming.apply_changes")
    importlib.import_module("lakehouse_tacklebox_spark.queries")  # bind names before rebinding

    orig = session.get_spark
    _rebind(orig, tracer.wrap(orig, "session.get_spark", "session"))
    orig = catalog.load_tables
    _rebind(orig, tracer.wrap(orig, "sources.load_tables", "sources"))
    for mod, group in ((graphops, "operators.graphops"), (dedup, "operators.dedup")):
        for fname in _public_functions(mod):
            orig = getattr(mod, fname)
            _rebind(orig, tracer.wrap(orig, f"{mod.__name__.rsplit('.', 1)[1]}.{fname}", group))
    for fname in ("apply_changes", "apply_changes_batch"):
        orig = getattr(ac, fname)
        _rebind(orig, tracer.wrap(orig, f"streaming.{fname}", "streaming"))

    TT, MB = tt.TackleTable, tt.MergeBuilder

    def table_of(obj):
        return obj.table if isinstance(obj, MB) else obj

    def after_commit(args, result, err, bytes_before):
        if err is not None:
            if isinstance(err, tt.CommitConflictError):
                tracer.counts["tablestore.conflicts"] += 1
            return
        t = result if isinstance(result, TT) else table_of(args[0])
        tracer.counts["tablestore.commits"] += 1
        # read the table's state directly, not through the wrapped
        # public methods, so the probe adds no tablestore time
        try:
            tracer.counts["tablestore.bytes_written"] += max(0, dir_bytes(t.path) - bytes_before)
            n_logs = sum(1 for n in os.listdir(os.path.join(t.path, "_log")) if n.endswith(".json"))
            n_files = len(t._active_files()[0])
        except OSError:  # the table may be gone already
            return
        m = tracer.maxima
        m["tablestore.active_files"] = max(m["tablestore.active_files"], n_files)
        m["tablestore.log_versions"] = max(m["tablestore.log_versions"], n_logs)

    def wrap_commit(owner, attr, label):
        raw = inspect.getattr_static(owner, attr)
        is_static = isinstance(raw, staticmethod)  # TackleTable.create(spark, path, ...)
        fn = raw.__func__ if is_static else raw

        def bytes_before(args, kwargs) -> int:
            path = os.path.abspath(args[1] if len(args) > 1 else kwargs["path"]) if is_static else table_of(args[0]).path
            return dir_bytes(path) if os.path.isdir(path) else 0

        w = tracer.wrap(fn, f"tablestore.{label}", "tablestore.commit", before=bytes_before, after=after_commit)
        setattr(owner, attr, staticmethod(w) if is_static else w)

    for label in TABLESTORE_GROUPS["commit"]:
        if label.startswith("MergeBuilder."):
            wrap_commit(MB, label.split(".", 1)[1], label)
        else:
            wrap_commit(TT, label, label)
    for group in ("metadata", "read"):
        for attr in TABLESTORE_GROUPS[group]:
            setattr(TT, attr, tracer.wrap(getattr(TT, attr), f"tablestore.{attr}", "tablestore." + group))

    orig_prune = TT.prune_files

    def prune(self, condition, version=None):
        kept, skipped = orig_prune(self, condition, version)
        total = len(kept) + len(skipped)
        if total:
            tracer.ratios["tablestore.scan_kept_ratio"].append(len(kept) / total)
        return kept, skipped

    TT.prune_files = functools.wraps(orig_prune)(prune)


# ------------------------------------------------------ Spark status store


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return d.getTime() / 1000.0 if d is not None else None


class SparkProbe:
    """Reads per-op job/stage metrics from the status tracker and store.

    Read after each op: the store keeps only about 1000 stages."""

    FIELDS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.stage_wait_s",
        "spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s",
        "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    )

    def __init__(self, spark, serial: bool):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.serial = serial
        # jobs of the setup and warm-up are not the timed ops'
        jobs = self.store.jobsList(None)
        self.last_job = max(jobs.apply(0).jobId(), jobs.apply(jobs.size() - 1).jobId()) if jobs.size() else -1
        self.totals: dict[str, float] = defaultdict(float)
        self.op_wall = 0.0
        self.op_driver = 0.0
        self.lock = threading.Lock()

    def _job(self, jid):
        try:
            return self.store.job(jid)
        except Exception:  # noqa: BLE001 — not (yet) in the store
            return None

    def after_op(self, group: str, start: float, end: float, tracer: Tracer, op_span: dict) -> None:
        with self.lock:
            try:
                self.bus.waitUntilEmpty(10_000)
            except Exception:  # noqa: BLE001
                pass
            ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
            if self.serial:
                jid = self.last_job + 1
                while self._job(jid) is not None:
                    ids.add(jid)
                    jid += 1
            if ids:
                self.last_job = max(self.last_job, max(ids))
            spans = []
            for jid in sorted(ids):
                job = self._job(jid)
                if job is None:
                    continue
                self.totals["spark.jobs"] += 1
                seq = job.stageIds()
                for i in range(seq.size()):
                    try:
                        st = self.store.lastStageAttempt(seq.apply(i))
                    except Exception:  # noqa: BLE001 — skipped stage
                        continue
                    sub, first, done = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime()), _ms(st.completionTime())
                    if sub is None:
                        continue
                    t = self.totals
                    t["spark.stages"] += 1
                    t["spark.tasks"] += st.numTasks()
                    t["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                    t["spark.executor_run_s"] += st.executorRunTime() / 1e3
                    t["spark.gc_s"] += st.jvmGcTime() / 1e3
                    t["spark.shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / 1e6
                    t["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    t["spark.spill_mb"] += st.diskBytesSpilled() / 1e6
                    if first is not None:
                        t["spark.stage_wait_s"] += max(0.0, first - sub)
                    end_s = done if done is not None else end
                    spans.append((sub, end_s))
                    tracer.add_span(f"stage {st.stageId()}", "spark", sub, end_s, op_span,
                                    job=jid, tasks=st.numTasks())
            covered = union_length([(max(s, start), min(e, end)) for s, e in spans])
            self.op_wall += end - start
            self.op_driver += max(0.0, (end - start) - covered)

    def metrics(self) -> dict[str, float]:
        out = {k: self.totals.get(k, 0.0) for k in self.FIELDS}
        out["spark.driver_share"] = self.op_driver / self.op_wall if self.op_wall else 0.0
        return out


def epoch_spans(tracer: Tracer, events: list[dict]) -> None:
    """Streaming epochs as spans, built from progress events and parented
    to the op whose interval contains them."""
    ops = [s for s in tracer.spans if s["layer"] == "op"]
    for ev in events:
        ts = ev.get("event_timestamp")
        dur = (ev.get("duration_ms") or {}).get("triggerExecution")
        if not ts or dur is None:
            continue
        start = datetime.strptime(ts.rstrip("Z")[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()
        end = start + dur / 1000.0
        parent = next((o for o in ops if o["start"] <= start <= o["end"]), None)
        tracer.add_span(f"epoch {ev.get('batch_id')}", "streaming", start, end, parent,
                        rows=ev.get("num_input_rows"))


def streaming_metrics(events: list[dict]) -> dict[str, float]:
    out = {
        "streaming.epochs": float(len(events)),
        "streaming.epoch_s": 0.0,
        "streaming.add_batch_s": 0.0,
        "streaming.query_planning_s": 0.0,
        "streaming.wal_commit_s": 0.0,
        "streaming.input_rows": 0.0,
    }
    for ev in events:
        d = ev.get("duration_ms") or {}
        out["streaming.epoch_s"] += d.get("triggerExecution", 0) / 1000.0
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
        out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
        out["streaming.input_rows"] += ev.get("num_input_rows") or 0
    return out
