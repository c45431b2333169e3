"""Shared pieces of the benchmark: spans, RSS sampling, Spark session and
Spark-side counters, summary statistics.

Nothing here imports ``sparkschema``; the workload modules do, through the
package's public functions only.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")


def use_checkout() -> None:
    """Everything a run writes, temporary files included, stays in the
    checkout; the package is imported from its root."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# Fixed engine settings for a small host: one Spark process, a fixed heap
# and a fixed Arrow batch. Task slots take half of at most four cores; the
# other half is left to the driver thread, which plans every query, and to
# the JIT compiler and GC threads, capped at two each. On a 4-vCPU VM this
# made `typed_gate` jobs faster and steadier than four task slots did (a
# median 3.6 s against 4.9 s over 13 jobs). The Arrow batch bounds
# in-flight image bytes: 256 rows x ~64 KB average payload per slot stays
# far below the Python workers' share of memory.
CORES = max(1, min(os.cpu_count() or 1, 4) // 2)
HEAP = "2g"
ARROW_BATCH = 256
SHUFFLE_PARTITIONS = 8


def spark_settings(trace: bool) -> dict[str, str]:
    return {
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": HEAP,
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # a fixed heap, committed and touched at start, with the
        # throughput collector: no concurrent marking threads compete with
        # the task threads, and the heap's share of the RSS is constant
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
            f"-XX:ParallelGCThreads=2 -XX:CICompilerCount=2 "
            f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
        "spark.ui.showConsoleProgress": "false",
        # the local UI serves the REST API the traced run reads stage
        # metrics from; untraced runs keep it off
        "spark.ui.enabled": "true" if trace else "false",
    }


def start_session(trace: bool):
    """A fresh local session; the package root goes on the Python
    workers' path through the JVM's environment."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    # the launcher JVM that spark-submit starts first writes nothing to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    _adopt_orphans()
    b = SparkSession.builder.appName("perfbench")
    for k, v in spark_settings(trace).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: the JVM
    leaves a finished shell child unreaped, and Python workers outlive the
    JVM for a moment, so both would otherwise pass to init and end after
    this process has exited."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_session(timeout: float = 60.0) -> None:
    """Stop the session and the JVM behind it, and wait until every process
    this one started has ended and been reaped.

    ``SparkSession.stop`` leaves the gateway JVM running; it exits on its
    own only after the Python process does, so it would outlive the run.
    Closing its stdin makes it exit now. Descendants still alive after
    ``timeout`` seconds are killed. Safe to call when no session was
    started, and more than once."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # a dead JVM is stopped below all the same
            pass
    gw = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no child left, live or unreaped
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


# -- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent index and job id.

    Disabled, ``span`` is a bare ``yield``. Spans are written out once, by
    :meth:`dump`, when the benchmark ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "job": self.job})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under span ``root`` (inclusive): a
        span's duration minus the time its direct children cover. Spans
        nest on one thread, so children never overlap."""
        out: dict[str, float] = {}
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)

        def walk(i: int) -> None:
            s = self.spans[i]
            child = sum(self.spans[c]["end"] - self.spans[c]["start"]
                        for c in kids.get(i, []))
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - child
            for c in kids.get(i, []):
                walk(c)

        walk(root)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


# -- memory ---------------------------------------------------------------


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every process."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii",
                      errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        procs[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), name)
    return procs


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``."""
    procs = _process_table()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def descendants_rss_bytes(pid: int) -> int:
    """Summed RSS of the Spark JVM (a ``java`` child of ``pid``) and the
    Python workers below it. Other descendants are not counted: a
    ``java`` child of the JVM is the JVM spawning a command, which shares
    the JVM's memory until it execs."""
    procs = _process_table()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    counted = [p for p in kids.get(pid, []) if procs[p][1] == "java"]
    todo = [k for p in counted for k in kids.get(p, [])]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        if procs[p][1].startswith("python"):
            counted.append(p)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in counted:
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread keeping the peak of :func:`descendants_rss_bytes`."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join(timeout=10)
        return False


def heap_live_gb(spark) -> float:
    """JVM heap in use right after a full collection: what the jobs left
    reachable, persisted frames included. The heap is pre-touched, so this
    state never shows in the RSS."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed() / 1e9)


# -- Spark-side counters --------------------------------------------------


class SparkCounters:
    """Jobs, stages and tasks of one job group from the status tracker;
    with the UI on, input records and shuffle bytes from its REST API."""

    def __init__(self, spark, rest: bool):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.rest = None
        if rest and self.sc.uiWebUrl:
            port = self.sc.uiWebUrl.rsplit(":", 1)[1]
            self.rest = (f"http://127.0.0.1:{port}/api/v1/applications/"
                         f"{self.sc.applicationId}")
        self._n = 0

    def group(self) -> str:
        self._n += 1
        g = f"perfbench-{self._n}"
        self.sc.setJobGroup(g, g)
        return g

    def collect(self, group: str) -> dict[str, float]:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        ran, tasks = [], 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran.append(s)
                tasks += info.numCompletedTasks
        out = {"jobs": float(len(jobs)), "stages": float(len(ran)),
               "tasks": float(tasks)}
        if self.rest is not None:
            rec = shuffle = 0
            for s in ran:
                with urllib.request.urlopen(f"{self.rest}/stages/{s}",
                                            timeout=10) as r:
                    for attempt in json.load(r):
                        rec += attempt.get("inputRecords", 0)
                        shuffle += attempt.get("shuffleWriteBytes", 0)
            out["input_records"] = float(rec)
            out["shuffle_write_mb"] = shuffle / 1e6
        return out


def persisted_frames(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


# -- statistics -------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def timed(fn) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def rate(fn, min_seconds: float = 0.3) -> float:
    """Work per second: calls ``fn``, which returns the amount of work it
    did, until ``min_seconds`` have passed."""
    work, t0 = 0.0, time.perf_counter()
    while True:
        work += fn()
        dt = time.perf_counter() - t0
        if dt >= min_seconds:
            return work / dt
