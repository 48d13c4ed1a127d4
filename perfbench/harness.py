"""Run plumbing shared by the workloads: the per-run work directory and Spark
environment, session set-up and teardown, spans, percentiles, peak RSS and
Spark's stage counters.

Importing this module does nothing; ``Run.open`` sets the process
environment and must be called before pyspark is imported."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_ingestion_ex8_producer_spark"
DRIVER_MEM = "2g"


def cpus() -> int:
    """Spark task slots: half the CPUs this process may use.  Every task of
    the engine's pandas paths keeps a JVM task thread and a Python worker
    busy at once, so N slots load 2N CPUs; at N = all CPUs the operations
    of a run spread about twice as wide on a 4-CPU VM (see README.md)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def median(values: list[float]) -> float:
    return statistics.median(values)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            return f"p{p}", quantile(values, p / 100)
    return None


def describe(name: str, values: list[float], unit: str) -> str:
    """'name: p50=… p90=… (n=…) unit' — the median and the highest
    percentile that has ten samples beyond it."""
    if not values:
        return f"{name}: no samples"
    parts = [f"p50={median(values):.4f}"]
    t = tail(values)
    if t:
        parts.append(f"{t[0]}={t[1]:.4f}")
    return f"{name}: {' '.join(parts)} {unit} (n={len(values)})"


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every descendant:
    the JVM, the PySpark daemon and its Python workers.  Children already
    reaped count through their parent's cutime/cstime.  Time the
    hypervisor steals from the VM is not CPU time, so on a busy host this
    grows far less than wall time does."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since listdir
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Tracer:
    """Spans (name, start, end, parent, run id) and counts, kept in memory
    and written out at exit.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack = threading.local()

    def span(self, name: str):
        return _Span(self, name)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. a streaming listener);
        times are epoch seconds."""
        if not self.enabled:
            return -1
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "run": self.run_id,
        })
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({
                "run": self.run_id, "spans": self.spans, "counts": self.counts,
                "self_s": self.self_times(), **extra,
            }, fh, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.id: int | None = None

    def __enter__(self) -> _Span:
        if self.tracer.enabled:
            stack = self.tracer._stack.__dict__.setdefault("ids", [])
            parent = stack[-1] if stack else None
            self.id = self.tracer.add(self.name, time.time(), 0.0, parent)
            stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        if self.id is not None:
            self.tracer.spans[self.id]["end"] = time.time()
            self.tracer._stack.ids.pop()


class Run:
    """One benchmark run: a fresh work directory inside the checkout, the
    Spark environment pointed at it, and the sessions built in it."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.tracer = Tracer(trace)
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}-{self.tracer.run_id}")
        self.spark = None
        self.build_s = 0.0
        self.attempted = 0  # operations of every workload this run drives
        self.failed = 0
        self._jvm_pid: int | None = None
        self.env = {
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_UI": "true" if trace else "false",
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def open(self) -> None:
        """Create the work directory and point every Spark scratch location
        at it.  Must run before pyspark is imported."""
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ.update(self.env)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONHASHSEED"] = "0"  # Python workers hash alike in every run
        # Python workers import the engine package from the checkout.
        prior = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def build(self):
        """Build the engine's session (this launches the JVM); returns it."""
        from data_ingestion_ex8_producer_spark.session import build_session

        t0 = time.perf_counter()
        with self.tracer.span("session.build_session"):
            self.spark = build_session(
                f"perfbench-{self.workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.build_s = time.perf_counter() - t0
        self._jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the JVM plus this Python process."""
        kb = vm_hwm_kb("self")
        if self._jvm_pid is not None:
            kb += vm_hwm_kb(self._jvm_pid)
        return kb / 1024.0

    def close(self) -> None:
        """Stop the session and the JVM, wait for it, remove the work dir."""
        try:
            if self.spark is not None:
                self.spark.stop()
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:  # the JVM ignored stdin EOF
                        proc.kill()
                        proc.wait(timeout=30)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass


class StageCounters:
    """Task, shuffle, GC and run-time totals of the stages that completed
    between ``start`` and ``stop``, from Spark's REST status API (the UI is
    on only in traced runs)."""

    FIELDS = {
        "spark.tasks": "numCompleteTasks",
        "spark.executor_run_ms": "executorRunTime",
        "spark.gc_ms": "jvmGcTime",
        "spark.shuffle_write_bytes": "shuffleWriteBytes",
        "spark.shuffle_read_bytes": "shuffleReadBytes",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
        self.seen: set[tuple] = set()

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(self.url + "?status=complete", timeout=30) as resp:
            return json.load(resp)

    def start(self) -> None:
        self.seen = {(s["stageId"], s["attemptId"]) for s in self._stages()}

    def stop(self) -> dict[str, float]:
        totals = dict.fromkeys(self.FIELDS, 0.0)
        for s in self._stages():
            if (s["stageId"], s["attemptId"]) in self.seen:
                continue
            for name, key in self.FIELDS.items():
                totals[name] += s.get(key, 0)
        return totals
