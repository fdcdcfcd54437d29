"""Session sizing, the op runner, leak guards and result assembly."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time

from stats import entry_p50, summarize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    # a quarter of physical memory, at most 4 GB: the heap stays well
    # below what the machine has, whatever get_spark's default is
    heap_mb = int(min(4096, phys_mb // 4))
    return {"cores": cores, "phys_mb": phys_mb, "heap_mb": heap_mb}


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short=12", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot. Steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def dir_bytes(path: str) -> int:
    """Bytes of all files under ``path`` (files vanishing meanwhile skip)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Run:
    """One benchmark invocation: its scratch space, session and records."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = os.path.join(REPO, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        for d in (self.tmp, os.path.join(self.work, "jtmp"), os.path.join(self.work, "local")):
            os.makedirs(d, exist_ok=True)
        # the package's tempfile.mkdtemp calls land in the run's scratch
        os.environ["TMPDIR"] = self.tmp
        import tempfile

        tempfile.tempdir = self.tmp
        os.environ.pop("SPARK_MASTER", None)  # an inherited master would override local[cores]
        self.machine = machine()
        os.environ["SPARK_DRIVER_MEMORY"] = f"{self.machine['heap_mb']}m"
        self.spark = None
        self.ops: list[dict] = []  # measured ops
        self.checks: list[dict] = []  # warm-up and other checked ops
        self.notes: dict = {}
        self.setup_rounds: list[dict] = []
        self.tracer = None
        self.probe = None
        self.cpu0 = 0.0  # cpu_seconds() when the timed window starts
        self.ticks0 = (0, 0)  # host_ticks() when the timed window starts
        self.persisted_leaked = 0
        self.tmp_leaked = 0
        self._tmp_seen = set(os.listdir(self.tmp))
        self.lock = threading.Lock()
        if traced:
            from tracing import Tracer, install_layer_wrappers

            self.tracer = Tracer()
            install_layer_wrappers(self.tracer)

    # ------------------------------------------------------------ session
    def start_session(self):
        """Start the SparkSession cold, in a new JVM, sized to this machine."""
        from lakehouse_tacklebox_spark import session

        self.stop_session()
        cores = self.machine["cores"]
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=cores,
            shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                # no hsperfdata file in /tmp: the run writes only inside the checkout
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'jtmp')}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "checkpoints"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop the session and its JVM and wait until the JVM has ended,
        so the next start launches a new one."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def setup(self, rounds: int, prepare) -> None:
        """Set up ``rounds`` times: a cold session start plus
        ``prepare(round)``. setup_s takes the median round."""
        for r in range(rounds):
            s = self.start_session()
            t0 = time.perf_counter()
            prepare(r)
            self.setup_rounds.append({"session_s": s, "prepare_s": time.perf_counter() - t0})

    def env(self) -> dict:
        sc = self.spark.sparkContext
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "master": sc.master,
            "cores": self.machine["cores"],
            "driver_heap": self.spark.conf.get("spark.driver.memory", "?"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "commit": git_commit(),
            "traced": self.traced,
        }

    # ------------------------------------------------------------ ops
    def run_op(self, name: str, body, check, *, group: str, measured: bool = True, serial: bool = False) -> dict:
        """Run ``body()`` as one op under job group ``group``, then, outside
        the timed interval, ``check(result)``: None when the result is
        right, else a description of the mismatch. Raising counts as a
        failure too. The op is recorded either way and the run goes on."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        span = None
        if self.tracer is not None:
            span = self.tracer.open(name, "op", op=group)
            if serial:
                self.tracer.serial_op = span
        start = time.time()
        result, err = None, None
        try:
            result = body()
        except Exception as e:  # noqa: BLE001 — recorded, the run goes on
            err = f"{type(e).__name__}: {str(e)[:300]}"
        end = time.time()
        if span is not None:
            self.tracer.close(span)
            self.tracer.serial_op = None
            if self.probe is not None:
                self.probe.after_op(group, start, end, self.tracer, span)
        if err is None:
            try:
                err = check(result)
            except Exception as e:  # noqa: BLE001
                err = f"check raised {type(e).__name__}: {str(e)[:300]}"
        rec = {"name": name, "start": start, "end": end, "latency": end - start, "error": err}
        with self.lock:
            (self.ops if measured else self.checks).append(rec)
        if err:
            print(f"FAILED {name}: {err}", file=sys.stderr, flush=True)
        return rec

    def check_leaks(self) -> None:
        """Count persisted RDDs left behind (then unpersist them) and temp
        entries created but not removed since the last check. The temp
        entries stay: the package keeps process-scoped caches there, and
        the whole scratch dir goes at exit."""
        jsc = self.spark.sparkContext._jsc
        persisted = jsc.getPersistentRDDs()
        n = persisted.size()
        if n:
            self.persisted_leaked += n
            for rdd in list(persisted.values()):
                rdd.unpersist(False)
        self.spark.catalog.clearCache()
        now = set(os.listdir(self.tmp))
        self.tmp_leaked += len(now - self._tmp_seen)
        self._tmp_seen = now

    def _jvm_proc(self, name: str) -> str:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/{name}") as f:
            return f.read()

    def cpu_seconds(self) -> float:
        """CPU time used so far by the driver JVM plus Python. Unlike
        wall time it does not grow when the host takes the CPU away."""
        t = os.times()
        jvm = self._jvm_proc("stat").rsplit(")", 1)[1].split()
        ticks = os.sysconf("SC_CLK_TCK")
        return t.user + t.system + (int(jvm[11]) + int(jvm[12])) / ticks

    def peak_rss_mb(self) -> float:
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        hwm = next(line for line in self._jvm_proc("status").splitlines() if line.startswith("VmHWM:"))
        return py_mb + int(hwm.split()[1]) / 1024.0

    def close(self) -> None:
        try:
            self.stop_session()
        except Exception:  # noqa: BLE001
            pass
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # ------------------------------------------------------------ results
    def start_window(self) -> None:
        """Start the timed window."""
        self.cpu0 = self.cpu_seconds()
        self.ticks0 = host_ticks()

    def end_to_end(self, makespan: float, warmup_s: float) -> dict:
        """The end-to-end metrics; the latency summary and peak RSS go to
        the report."""
        lat = summarize([o["latency"] for o in self.ops])
        by_entry: dict[str, list[float]] = {}
        for o in self.ops:
            by_entry.setdefault(o["name"], []).append(o["latency"])
        rounds = [r["session_s"] + r["prepare_s"] for r in self.setup_rounds]
        steal, total = (b - a for a, b in zip(self.ticks0, host_ticks()))
        # wall-clock metrics drift with the host: record how much CPU it took away
        self.notes.update(op_latency_s=lat, peak_rss_mb=self.peak_rss_mb(),
                          host_steal_share=round(steal / total, 4) if total else None)
        return {
            "setup_s": statistics.median(rounds) + warmup_s,
            "ops_per_min": len(self.ops) / makespan * 60.0 if makespan > 0 else 0.0,
            "op_p50_s": entry_p50(by_entry),
            "cpu_s_per_op": (self.cpu_seconds() - self.cpu0) / len(self.ops) if self.ops else 0.0,
        }

    def failed_count(self) -> int:
        return sum(1 for o in self.ops + self.checks if o["error"])

    def attempted_count(self) -> int:
        return len(self.ops) + len(self.checks)
