"""Read-outs the benchmark takes from outside the engine.

- process-tree CPU and the driver JVM's resident memory, from /proc;
- the driver JVM's GC time, from its management beans;
- per-job-group stage metrics, from the SparkContext status store;
- Python-boundary SQL metrics, from the SQL status store;
- Catalyst phase durations, from a DataFrame's ``queryExecution().tracker()``;
- spans: named intervals with a parent, kept in memory until the run ends.

Everything here works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import gc
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and every process below it.

    Live processes count their own user+system time; exited, reaped ones
    are already folded into their parent's cutime/cstime, which is counted
    for every live process in the tree.
    """
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        pid = int(name)
        parent[pid] = int(f[1])  # ppid
        ticks[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / _TICK


def jvm_gc_s(spark) -> float:
    """GC seconds the driver JVM has spent so far, all collectors; in local
    mode the executors share that JVM. Two gateway calls a collector, where
    per-stage ``jvmGcTime`` takes several calls a stage."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


def status_mb(pid: int, field: str) -> float:
    """A memory field of /proc/<pid>/status (``VmRSS``, ``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def rss_after_gc_mb(spark, pid: int) -> float:
    """VmRSS of the driver JVM `pid` once garbage is collected and G1 has
    returned the freed heap to the OS: the memory the driver holds on to.

    The GC is ``System.gc()``, the call Spark's ContextCleaner makes every
    ``spark.cleaner.periodicGC.interval``. One is not enough: the cleaner
    releases the broadcasts, shuffles and cached blocks of finished queries
    only after a GC has shown them unreachable, and they become collectable
    on a later one, so GCs repeat until the live heap stops shrinking.
    Python's collector runs first, so that dropped gateway proxies release
    their JVM objects. G1 uncommits concurrently, so this then polls until
    the figure holds still for half a second (at most 5 s).
    """
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = float("inf")
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        before, live = live, heap.getHeapMemoryUsage().getUsed()
        if live > before - 2**20:
            break
    reads = [status_mb(pid, "VmRSS")]
    while len(reads) < 50 and (len(reads) < 6 or len(set(reads[-6:])) > 1):
        time.sleep(0.1)
        reads.append(status_mb(pid, "VmRSS"))
    return reads[-1]


# ---------------------------------------------------------------------------
# status stores
# ---------------------------------------------------------------------------

STAGE_KEYS = (
    "jobs", "stages", "stages_skipped", "tasks", "task_run_s", "task_cpu_s",
    "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "single_task_stage_s", "scan_tasks",
)


class JobWatch:
    """Jobs started since the last read, bucketed by Spark job group."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._newest()

    def _newest(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self) -> dict[str, list]:
        jobs = self._store.jobsList(None)
        out: dict[str, list] = {}
        newest = self._seen
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            out.setdefault(group.get() if group.isDefined() else "", []).append(job)
        self._seen = newest
        return out


def stage_totals(spark, jobs: list) -> dict[str, float]:
    """Sum the stage metrics of `jobs` (JobData from JobWatch.take).

    `scan_tasks` counts the tasks of stages that read input files.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    for job in jobs:
        out["jobs"] += 1
        out["stages_skipped"] += job.numSkippedStages()
        ids = job.stageIds()
        for i in range(ids.size()):
            try:
                sd = store.lastStageAttempt(ids.apply(i))
            except Exception:  # skipped stages may never get an attempt
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            n_tasks = sd.numTasks()
            out["stages"] += 1
            out["tasks"] += n_tasks
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.inputBytes() > 0:
                out["scan_tasks"] += n_tasks
            sub, end = sd.submissionTime(), sd.completionTime()
            if n_tasks == 1 and sub.isDefined() and end.isDefined():
                out["single_task_stage_s"] += (end.get().getTime() - sub.get().getTime()) / 1e3
    return out


PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "worker_start_s",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def parse_metric(text: str) -> float:
    """Parse a formatted SQL metric ('1.6 s', '135.2 KiB', or the
    multi-task 'total (min, med, max ...)\\n1.6 s (...)' form) into seconds
    or bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m or m.group(2) not in _UNIT:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class SqlWatch:
    """Python-boundary metrics of SQL executions started since the last read.

    An execution is attributed to the job group it ran under: the job
    group's description becomes the execution's description.
    """

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._store.executionsCount()

    def skip(self) -> None:
        """Ignore every execution started so far."""
        self._seen = self._store.executionsCount()

    def take(self) -> dict[str, dict[str, float]]:
        n = self._store.executionsCount()
        out: dict[str, dict[str, float]] = {}
        if n <= self._seen:
            return out
        execs = self._store.executionsList(self._seen, n - self._seen)
        self._seen = n
        for i in range(execs.size()):
            e = execs.apply(i)
            values = self._store.executionMetrics(e.executionId())
            metrics = e.metrics()
            acc = out.setdefault(e.description(), dict.fromkeys(PYTHON_METRICS.values(), 0.0))
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = PYTHON_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    acc[key] += parse_metric(v.get())
        return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Plan `df` (analysis is already done) and return the Catalyst phase
    durations its QueryExecution tracked."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Spans:
    t0: float = field(default_factory=time.perf_counter)
    items: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.items)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.items.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
