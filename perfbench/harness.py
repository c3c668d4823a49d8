"""Measurement plumbing for the workloads: spans, percentiles, JVM and
``/proc`` readings, Spark job-group counts and event-log totals.

Nothing here knows a workload.  Everything reads the engine from the
outside: py4j MXBeans, ``SparkContext.statusTracker()``, the Spark event
log, and the process table.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import signal
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------------ numbers


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    s = sorted(values)
    if not s:
        raise ValueError("quantile of no samples")
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n: int, want: float = 0.9, beyond: int = 10) -> float:
    """The highest quantile up to ``want`` that has at least ``beyond``
    samples above it, never below the median."""
    if n <= 0:
        return want
    return max(0.5, min(want, 1.0 - beyond / n))


def median(values) -> float:
    return quantile(values, 0.5)


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans: name, start, end, parent (ids index ``spans``).

    Spans nest per thread.  A thread with no open span (the streaming
    callback thread) parents its spans to ``default_parent``.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self.default_parent: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.default_parent
        rec = {"name": name, "parent": parent, "start": time.perf_counter(),
               "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the span name up to its first dot): each
        span's duration minus the part of it its children cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], []) if c["end"] is not None
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, t0: float) -> list[dict]:
        """Spans with times relative to ``t0``, for writing out."""
        return [
            {**s, "start": s["start"] - t0,
             "end": None if s["end"] is None else s["end"] - t0}
            for s in self.spans
        ]


# ------------------------------------------------------------------ process


def _proc_status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _ppids() -> dict[int, int]:
    """pid -> parent pid of every process in the process table."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        out[int(name)] = int(stat.rpartition(")")[2].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``: children, their children, and so on."""
    kids: dict[int, list[int]] = {}
    for child, parent in _ppids().items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _running(pid: int) -> bool:
    """True until every thread of ``pid`` has ended.  A process whose
    main thread has exited reads as a zombie while its other threads
    still run (a JVM shutting down does), so a zombie counts as ended
    only once it is down to one thread."""
    state, threads = "", 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("State:"):
                    state = line.split()[1]
                elif line.startswith("Threads:"):
                    threads = int(line.split()[1])
    except OSError:
        return False
    return not (state in ("Z", "X") and threads <= 1)


def become_subreaper() -> bool:
    """Make processes orphaned below this one (a JVM's workers once the
    JVM is gone) this process's children, so it can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(timeout: float = 30.0) -> list[int]:
    """End the driver JVM that PySpark launched and every other process
    below this one (the JVM's Python workers), and wait until each has
    ended.  ``spark.stop()`` leaves the JVM alive; on its own it ends only
    after this process exits, on its own time.  Closing the JVM's stdin
    makes it exit; what is still running after ``timeout`` (a JVM whose
    gateway never came up) gets SIGTERM, then SIGKILL.  Returns the pids
    that had to be signalled."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may be gone already; it is waited for below
            pass
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass

    def wait(limit: float) -> list[int]:
        """Wait up to ``limit`` seconds for the tree to end; the rest."""
        nonlocal tree
        deadline = time.monotonic() + limit
        while True:
            if proc is not None:
                proc.poll()  # the JVM: let its Popen record the exit itself
            _reap()
            tree = sorted(set(tree) | set(descendants(os.getpid())))
            alive = [p for p in tree if _running(p)]
            if not alive or time.monotonic() > deadline:
                return alive
            time.sleep(0.05)

    stuck = wait(timeout)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in wait(0.0):
            try:
                os.kill(p, sig)
            except OSError:
                pass
        if not wait(10.0):
            break
    _reap()
    return stuck


def jvm(spark):
    return spark.sparkContext._jvm


def jvm_pid(spark) -> int:
    return int(jvm(spark).java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Driver JVM plus this Python process, VmHWM (high-water RSS)."""
    kb = _proc_status_kb(jvm_pid(spark), "VmHWM") + _proc_status_kb("self", "VmHWM")
    return kb / 1024.0


def gc_seconds(spark) -> float:
    beans = jvm(spark).java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0


def heap_peak_mb(spark) -> float:
    mf = jvm(spark).java.lang.management.ManagementFactory
    heap = jvm(spark).java.lang.management.MemoryType.HEAP
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().equals(heap):
            total += int(pool.getPeakUsage().getUsed())
    return total / 2**20


def heap_max_mb(spark) -> float:
    mf = jvm(spark).java.lang.management.ManagementFactory
    return int(mf.getMemoryMXBean().getHeapMemoryUsage().getMax()) / 2**20


def effective_local_dirs(spark) -> list[str]:
    """The shuffle/spill dirs the JVM actually uses (env beats conf)."""
    sc = spark.sparkContext
    dirs = sc._jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(sc._jsc.sc().conf())
    return [str(d) for d in dirs]


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def calibration_s() -> float:
    """Wall time of a fixed pure-Python loop: a reading of how fast this
    machine runs right now, for telling host drift from program change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def host_record() -> dict:
    try:
        shm_free = shutil.disk_usage("/dev/shm").free
    except OSError:
        shm_free = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "shm_free_gib": None if shm_free is None else round(shm_free / 2**30, 2),
        "calibration_s": round(calibration_s(), 4),
        "cpu_steal_s": cpu_steal_s(),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def uri_path(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


# ------------------------------------------------------------------ jobs


class JobGroups:
    """Tags the Spark jobs of one call with a job group and reads back
    jobs, stages and tasks from ``statusTracker()`` (works with the UI
    off).  Stage ids are kept so event-log totals can be joined later."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stages: dict[str, list[int]] = {}
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"pb{self._n}:{label}"
        self.sc.setJobGroup(gid, label)
        out = {"group": gid}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = list(st.getJobIdsForGroup(gid))
            stages: list[int] = []
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            tasks = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
            self.stages[gid] = stages
            out.update(jobs=len(jobs), stages=len(stages), tasks=tasks)


def event_log_totals(log_dir: str) -> dict[int, dict]:
    """Per stage id: shuffle bytes written and executor GC seconds,
    summed over the event log's task-end events."""
    per_stage: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                tm = ev.get("Task Metrics") or {}
                agg = per_stage.setdefault(int(ev["Stage ID"]),
                                           {"shuffle_bytes": 0, "gc_s": 0.0})
                agg["shuffle_bytes"] += int(
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                agg["gc_s"] += int(tm.get("JVM GC Time", 0)) / 1000.0
    return per_stage
