"""Timed, optionally traced execution of one benchmark operation.

An operation builds a DataFrame through a public engine function and
forces it into a ``noop`` sink. Untraced, only wall time is taken. Traced,
the build and the execution each run under their own Spark job group, the
DataFrame is planned once more on its own ``queryExecution()`` to read the
Catalyst phase times, and the job groups' stage metrics and Python-boundary
SQL metrics are folded into the operation's layer record.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager

from probes import JobWatch, SqlWatch, Spans, catalyst_phases_ms, stage_totals

MIB = float(2**20)


def empty_layer() -> dict[str, float]:
    return {
        "build.s": 0.0, "build.jobs": 0.0,
        "plan.analysis_ms": 0.0, "plan.optimization_ms": 0.0, "plan.planning_ms": 0.0,
        "exec.s": 0.0, "exec.jobs": 0.0, "exec.stages": 0.0, "exec.stages_skipped": 0.0,
        "exec.tasks": 0.0, "exec.task_run_s": 0.0, "exec.task_cpu_s": 0.0, "exec.gc_s": 0.0,
        "exec.single_task_stage_s": 0.0, "exec.input_mb": 0.0, "exec.shuffle_read_mb": 0.0,
        "exec.shuffle_write_mb": 0.0, "exec.spill_mb": 0.0,
        "arrow.python_run_s": 0.0, "arrow.worker_start_s": 0.0,
        "arrow.to_python_mb": 0.0, "arrow.from_python_mb": 0.0,
        "scan.tasks": 0.0, "scan.bytes": 0.0,
    }


def add_exec(layer: dict[str, float], t: dict[str, float]) -> None:
    """Fold one job group's stage totals into the exec.* entries."""
    for src, dst in (
        ("jobs", "exec.jobs"), ("stages", "exec.stages"),
        ("stages_skipped", "exec.stages_skipped"), ("tasks", "exec.tasks"),
        ("task_run_s", "exec.task_run_s"), ("task_cpu_s", "exec.task_cpu_s"),
        ("gc_s", "exec.gc_s"), ("single_task_stage_s", "exec.single_task_stage_s"),
    ):
        layer[dst] += t[src]
    for src, dst in (
        ("input_bytes", "exec.input_mb"), ("shuffle_read_bytes", "exec.shuffle_read_mb"),
        ("shuffle_write_bytes", "exec.shuffle_write_mb"), ("spill_bytes", "exec.spill_mb"),
    ):
        layer[dst] += t[src] / MIB


def add_scan(layer: dict[str, float], t: dict[str, float]) -> None:
    layer["scan.tasks"] += t["scan_tasks"]
    layer["scan.bytes"] += t["input_bytes"]


def add_arrow(layer: dict[str, float], py: dict[str, float] | None) -> None:
    if not py:
        return
    layer["arrow.python_run_s"] += py["python_run_s"]
    layer["arrow.worker_start_s"] += py["worker_start_s"]
    layer["arrow.to_python_mb"] += py["to_python_bytes"] / MIB
    layer["arrow.from_python_mb"] += py["from_python_bytes"] / MIB


class Harness:
    def __init__(self, spark, traced: bool, spans: Spans):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans = spans
        self.jobs = JobWatch(spark)
        self.sql = SqlWatch(spark)
        self._group = None

    def set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def group(self, group: str):
        """Run the block's jobs under `group`, then restore the outer group."""
        outer = self._group
        self.set_group(group)
        try:
            yield
        finally:
            self.set_group(outer)

    def take(self) -> tuple[dict[str, list], dict[str, dict[str, float]]]:
        """Jobs and Python-boundary SQL metrics since the last take, each
        keyed by job group."""
        return self.jobs.take(), self.sql.take()

    def skip(self) -> None:
        """Forget everything that ran so far."""
        self.jobs.take()
        self.sql.skip()

    def query_op(self, tag: str, name: str, build: Callable[[], object]) -> dict:
        """Build a DataFrame with `build` and force it to a noop sink."""
        rec = {"name": name, "failed": False, "layer": empty_layer()}
        if not self.traced:
            t0 = time.perf_counter()
            try:
                build().write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted against ops_failed_frac
                rec["failed"], rec["error"] = True, f"{type(e).__name__}: {e}"[:300]
            rec["latency_s"] = time.perf_counter() - t0
            return rec

        layer = rec["layer"]
        g_build, g_exec = f"{tag}.{name}.build", f"{tag}.{name}.exec"
        t0 = time.perf_counter()
        try:
            with self.spans.span(name, kind="op"):
                with self.spans.span("build"), self.group(g_build):
                    df = build()
                t1 = time.perf_counter()
                with self.spans.span("plan"):
                    phases = catalyst_phases_ms(df)
                t2 = time.perf_counter()
                with self.spans.span("execute"), self.group(g_exec):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
        except Exception as e:
            rec["failed"], rec["error"] = True, f"{type(e).__name__}: {e}"[:300]
            rec["latency_s"] = time.perf_counter() - t0
            return rec
        # includes the extra planning pass, so trace.overhead_frac shows it
        rec["latency_s"] = t3 - t0
        layer["build.s"] += t1 - t0
        layer["exec.s"] += t3 - t2
        for k, v in phases.items():
            layer[f"plan.{k}_ms"] += v
        jobs, py = self.take()
        layer["build.jobs"] += len(jobs.get(g_build, []))
        add_exec(layer, stage_totals(self.spark, jobs.get(g_exec, [])))
        add_arrow(layer, py.get(g_build))
        add_arrow(layer, py.get(g_exec))
        return rec

