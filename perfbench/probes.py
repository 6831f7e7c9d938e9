"""Run-time instruments: spans, the /proc sampler, the streaming listener and
host facts. Everything here observes the engine from outside: it wraps the
public functions the benchmark calls and reads what Spark itself reports.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import platform
import subprocess
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from eventlog import OP_PROPERTY


class Tracer:
    """Nested spans kept in memory: (id, parent, name, layer, t0, t1, attrs).

    A span may also name the Spark operation its jobs belong to; that name
    is appended to the thread-local job property, which Spark copies onto every
    job, stage and streaming micro-batch the call starts, so the event-log
    parser can charge task metrics to the span. (A local property rather
    than a job tag: pyspark 4.1's listener bridge fails on queries started
    under job tags.)
    """

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, job: str | None = None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "t0": time.perf_counter(),
               "t1": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if (job and self.spark) else None
        prev = sc.getLocalProperty(OP_PROPERTY) if sc else None
        if sc:   # nested operations form a path: "task:clients/write:CLIENTES"
            sc.setLocalProperty(OP_PROPERTY, f"{prev}/{job}" if prev else job)
        try:
            yield rec
        finally:
            if sc:
                sc.setLocalProperty(OP_PROPERTY, prev)
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module: str, attr: str, layer: str, job_of=None) -> None:
        """Replace `module.attr` with a spanned version until `unwrap_all`.
        `job_of(*args)` names the job property for the call, if any."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            job = job_of(*args) if job_of else None
            with self.span(attr, layer, job=job):
                return orig(*args, **kwargs)

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, orig))

    def unwrap_all(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


class NullTracer(Tracer):
    """Tracing off: spans cost one context manager and record nothing."""

    @contextlib.contextmanager
    def span(self, name, layer, job=None, **attrs):
        yield {}


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress record; registered on every run."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout: float = 10.0) -> bool:
        """Wait until every started query's events have arrived (the bus
        delivers a query's progress events before its termination)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return True
            time.sleep(0.02)
        return False

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _memory_kb(pid: int) -> tuple[int, int]:
    """(RSS, PSS) of one process. PSS splits each shared page among the
    processes that map it, so forked Python workers are not counted once
    per worker for the pages they share with their daemon."""
    rss = pss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Rss:"):
                    rss = int(line.split()[1])
                elif line.startswith("Pss:"):
                    pss = int(line.split()[1])
    except OSError:
        pass
    return rss, pss


class ProcSampler:
    """Samples the memory of this process tree (this Python process, the JVM,
    Python workers) from /proc every `interval` seconds; keeps the peaks and
    the time each worker pid was first seen (a worker that lives less than
    one interval can be missed)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_rss_kb = self.peak_pss_kb = 0
        self.python_pids: dict[int, float] = {}   # pid -> first seen (perf_counter)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root = os.getpid()
        kids = _proc_children()
        rss = pss = 0
        todo = [root]
        while todo:
            pid = todo.pop()
            r, p = _memory_kb(pid)
            rss, pss = rss + r, pss + p
            for child in kids.get(pid, ()):
                todo.append(child)
                if pid != root:   # grandchildren: the daemon and its workers
                    try:
                        with open(f"/proc/{child}/comm") as fh:
                            if fh.read().startswith("python"):
                                self.python_pids.setdefault(child, time.perf_counter())
                    except OSError:
                        pass
        self.peak_rss_kb = max(self.peak_rss_kb, rss)
        self.peak_pss_kb = max(self.peak_pss_kb, pss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> ProcSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_noise() -> dict:
    """Load average plus cumulative steal and iowait jiffies (/proc/stat)."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": load, "iowait_jiffies": cpu[4], "steal_jiffies": cpu[7],
            "total_jiffies": sum(cpu), "t": time.time()}


def noise_delta(start: dict, end: dict) -> dict:
    """Share of CPU time lost to steal and iowait between two samples."""
    total = max(1, end["total_jiffies"] - start["total_jiffies"])
    return {"loadavg_start": start["loadavg"], "loadavg_end": end["loadavg"],
            "steal_share": (end["steal_jiffies"] - start["steal_jiffies"]) / total,
            "iowait_share": (end["iowait_jiffies"] - start["iowait_jiffies"]) / total}


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def host_facts(root: str, spark) -> dict:
    import pyspark

    try:
        commit = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10,
                                check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown (not a git checkout)"
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_kb": mem_total_kb(),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "commit": commit}


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000
