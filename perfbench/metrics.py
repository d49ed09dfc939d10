"""Metric declarations and the reductions from pass records to metrics.

A pass record is ``{"wall_s", "cpu_s", "ops": [op, ...], "extra": {...}}``;
an op is ``{"name", "latency_s", "failed", "layer": {...}}`` as built by
``harness.py`` and ``workloads.py``.
"""

from __future__ import annotations

import math
import statistics

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_tail_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("driver_rss_mb", "MiB", "lower"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("warmup_s", "s", "lower"),
    ("build.s", "s", "lower"),
    ("build.jobs", "count", "lower"),
    ("plan.analysis_ms", "ms", "lower"),
    ("plan.optimization_ms", "ms", "lower"),
    ("plan.planning_ms", "ms", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.stages_skipped", "count", "higher"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.core_busy_frac", "fraction", "higher"),
    ("exec.single_task_stage_s", "s", "lower"),
    ("exec.input_mb", "MiB", "lower"),
    ("exec.shuffle_read_mb", "MiB", "lower"),
    ("exec.shuffle_write_mb", "MiB", "lower"),
    ("exec.spill_mb", "MiB", "lower"),
    ("arrow.python_run_s", "s", "lower"),
    ("arrow.worker_start_s", "s", "lower"),
    ("arrow.to_python_mb", "MiB", "lower"),
    ("arrow.from_python_mb", "MiB", "lower"),
    ("xml.read_s", "s", "lower"),
    ("xml.read_jobs", "count", "lower"),
    ("xml.scan_tasks", "count", "lower"),
    ("xml.bytes_read_per_input_byte", "ratio", "lower"),
    ("etl.dims_s", "s", "lower"),
    ("etl.salestxn_s", "s", "lower"),
    ("etl.product_facts_s", "s", "lower"),
    ("etl.rep_facts_s", "s", "lower"),
    ("etl.analytics_s", "s", "lower"),
    ("persist.s", "s", "lower"),
    ("persist.files", "count", "lower"),
    ("persist.bytes_per_input_byte", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def tail_percentile(min_samples: int) -> float:
    """The highest percentile with at least ten samples beyond it in a run
    that takes `min_samples` operation latencies, but never below the
    median: with fewer than 20 samples there is no tail to report."""
    return max(50.0, 100.0 * (1.0 - 10.0 / min_samples))


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def failed_frac(passes: list[dict]) -> tuple[int, int]:
    """(failed, attempted) over every timed operation."""
    ops = [op for p in passes for op in p["ops"]]
    return sum(1 for op in ops if op["failed"]), len(ops)


def end_to_end(setup_s: float, passes: list[dict], rss_mb: float, tail_pct: float) -> dict:
    lat = [op["latency_s"] for p in passes for op in p["ops"]]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": percentile(lat, tail_pct),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "driver_rss_mb": rss_mb,
    }


def pass_layer(p: dict, cores: int, input_bytes: int) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    out: dict[str, float] = {}
    for op in p["ops"]:
        for k, v in op["layer"].items():
            out[k] = out.get(k, 0.0) + v
    extra = p["extra"]
    out["exec.core_busy_frac"] = (
        out["exec.task_run_s"] / (out["exec.s"] * cores) if out["exec.s"] > 0 else 0.0
    )
    is_etl = "xml.read_s" in extra
    out["xml.read_s"] = extra.get("xml.read_s", 0.0)
    out["xml.read_jobs"] = extra.get("xml.read_jobs", 0.0)
    # only etl_xml's build and persist operations record their scans, and
    # everything they read is XML
    scan_tasks, scan_bytes = out.pop("scan.tasks"), out.pop("scan.bytes")
    out["xml.scan_tasks"] = scan_tasks
    out["xml.bytes_read_per_input_byte"] = scan_bytes / input_bytes if is_etl else 0.0
    for k in ("etl.dims_s", "etl.salestxn_s", "etl.product_facts_s", "etl.rep_facts_s"):
        out[k] = extra.get(k, 0.0)
    persist_s = analytics_s = 0.0
    for op in p["ops"]:
        if op["name"].startswith("persist."):
            persist_s += op["latency_s"]
        elif is_etl and op["name"] != "run_pipeline":
            analytics_s += op["latency_s"]
    out["etl.analytics_s"] = analytics_s
    out["persist.s"] = persist_s
    out["persist.files"] = extra.get("persist.files", 0.0)
    out["persist.bytes_per_input_byte"] = extra.get("persist.bytes", 0.0) / input_bytes
    return out


def per_layer(
    traced: list[dict], untraced: list[dict], session_s: float, warmup_s: float,
    cores: int, input_bytes: int,
) -> dict[str, float]:
    layers = [pass_layer(p, cores, input_bytes) for p in traced]
    out = {k: statistics.median(layer[k] for layer in layers) for k in layers[0]}
    op_sum = lambda p: sum(op["latency_s"] for op in p["ops"])  # noqa: E731
    out["trace.overhead_frac"] = (
        statistics.median(op_sum(p) for p in traced)
        / statistics.median(op_sum(p) for p in untraced) - 1.0
    )
    out["session.start_s"] = session_s
    out["warmup_s"] = warmup_s
    return {name: out[name] for name, _, _ in PER_LAYER}
