"""Measurement plumbing shared by every workload: the Spark session, spans,
the peak-RSS sampler, the event-log reader and process clean-up.

Spans are kept in memory and written once, when the run ends. The event
log is enabled only in traced runs; its task metrics are attributed to
spans by time window, which is exact because the benchmark drives Spark
from one thread, one job at a time (a closed loop with one client).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Tracer:
    """In-memory spans: (name, start, end, parent, run_id)."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.scope = ""  # prefix of every span name, e.g. "pass0/"
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block; inside it every Spark job carries ``name`` as its
        job group, so the Spark UI and the event log name the layer."""
        name = self.scope + name
        parent = self._stack[-1] if self._stack else None
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, f"perfbench {self.run_id} {name}")
        self._stack.append(name)
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup(parent or "perfbench", f"perfbench {self.run_id}")

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def has(self, name: str) -> bool:
        return any(s["name"] == name for s in self.spans)

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed it
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _memory_kb(pid: int) -> tuple[str, int, int]:
    """(name, VmRSS, VmHWM) of a process; zeros once it has ended."""
    fields = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                key, _, value = line.partition(":")
                fields[key] = value.split()
    except OSError:
        return "", 0, 0
    rss, hwm = (int(fields[k][0]) if k in fields else 0 for k in ("VmRSS", "VmHWM"))
    return fields.get("Name", [""])[0], rss, hwm


class RssSampler:
    """Peak RSS of the Spark JVM plus its Python workers (psutil is not
    installed, so /proc, polled every 0.2 s): the JVM's own peak (VmHWM)
    plus the largest sampled sum of the workers' current RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._jvm_kb: dict[int, int] = {}
        self._workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        workers = 0
        for pid in _descendants(os.getpid()):
            name, rss, hwm = _memory_kb(pid)
            if name == "java":
                self._jvm_kb[pid] = max(self._jvm_kb.get(pid, 0), hwm)
            else:
                workers += rss
        self._workers_kb = max(self._workers_kb, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._poll()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def poll(self) -> None:
        """Take a last reading before the processes are stopped."""
        self._poll()

    @property
    def peak_mb(self) -> float:
        return (sum(self._jvm_kb.values()) + self._workers_kb) / 1024.0


def start_session(work_dir: str, event_log_dir: str | None):
    """Start the one Spark session of a run on local[nproc], with every
    scratch file inside ``work_dir``. Returns (spark, seconds)."""
    from wikibrain_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        # a fixed-size heap: peak RSS does not depend on when the JVM grows it
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    n = nproc()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, its JVM and the Python workers, and wait until each has
    ended."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


# ------------------------------------------------------------ event log

TASK_FIELDS = ("cpu_s", "tasks", "shuffle_mb", "spill_mb", "gc_s")


def _plan_broadcast_accums(info: dict, out: set[int]) -> None:
    if info.get("nodeName") == "BroadcastExchange":
        out.update(m["accumulatorId"] for m in info.get("metrics", ()) if m["name"] == "data size")
    for child in info.get("children", ()):
        _plan_broadcast_accums(child, out)


def read_event_log(event_log_dir: str) -> dict:
    """Parse the run's event log into time-stamped tasks, job submissions
    and broadcast sizes (SQL executions' BroadcastExchange data size)."""
    tasks, jobs, exec_time, exec_accums, accum_values = [], [], {}, {}, {}
    for path in glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Read Metrics", {})
                    tasks.append((ev["Task Info"]["Finish Time"] / 1e3, {
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "tasks": 1,
                        "shuffle_mb": (shuffle.get("Remote Bytes Read", 0)
                                       + shuffle.get("Local Bytes Read", 0)
                                       + m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)) / 2**20,
                        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    }))
                elif kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1e3)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_time[ev["executionId"]] = ev["time"] / 1e3
                    _plan_broadcast_accums(ev["sparkPlanInfo"], exec_accums.setdefault(ev["executionId"], set()))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_broadcast_accums(ev["sparkPlanInfo"], exec_accums.setdefault(ev["executionId"], set()))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in ev["accumUpdates"]:
                        accum_values[acc] = max(accum_values.get(acc, 0), val)
    broadcasts = [
        (exec_time[e], sum(accum_values.get(a, 0) for a in accs) / 2**20)
        for e, accs in exec_accums.items() if e in exec_time
    ]
    return {"tasks": tasks, "jobs": jobs, "broadcasts": broadcasts}


def window_metrics(log: dict, span: dict) -> dict:
    """Task metrics, job count and broadcast MB of everything Spark ran
    inside ``span``'s [start, end] window."""
    lo, hi = span["start"], span["end"]
    out = {k: 0.0 for k in TASK_FIELDS}
    for t, m in log["tasks"]:
        if lo <= t <= hi:
            for k in TASK_FIELDS:
                out[k] += m[k]
    out["jobs"] = sum(1 for t in log["jobs"] if lo <= t <= hi)
    out["broadcast_mb"] = sum(mb for t, mb in log["broadcasts"] if lo <= t <= hi)
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


def loadavg() -> float:
    return os.getloadavg()[0]
