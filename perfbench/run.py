#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_xml --seed 1 --seconds 20 --trace 0

Run from the repository root. The load is a closed loop with one client on
``local[nproc]``: the driver issues each operation only after the previous
one has completed. After set-up (Spark session start, seeded input
generation, one warm-up pass) the workload runs passes -- its whole
operation list once each -- until ``--seconds`` of passes are measured and
at least the workload's minimum number of passes has run.

``--trace 0`` reports the end-to-end metrics of untraced passes.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the traced ones (plus tracing's own overhead); its
spans go to ``.perfbench/out/<workload>-seed<n>-spans.json``.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A human-readable table precedes it; ``.perfbench/out/`` receives a sidecar
with every pass's times, GC seconds and the operations' failures.
All scratch state (inputs, Spark local dirs, warehouse, temp files) lives
in ``.perfbench/work-<pid>/`` and is removed when the run ends.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pharmaceutical_sales_data_etl_analysis_pipeline_spark"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_xml", "star_sql", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Fix every setting the numbers depend on and keep all writes in `work`."""
    cores = len(os.sched_getaffinity(0))
    for var in ("SPARK_GRAFT_PIN", "SPARK_GRAFT_PIN_DIR", "SPARK_GRAFT_SCAN_SPREAD", "SPARK_MASTER",
                "SPARK_DRIVER_MEMORY"):
        # engine defaults: pin mode "local", no scan-spread override, the
        # session's own driver heap
        os.environ.pop(var, None)
    conf_dir, tmp = os.path.join(work, "conf"), os.path.join(work, "tmp")
    local, warehouse = os.path.join(work, "local"), os.path.join(work, "warehouse")
    for d in (conf_dir, tmp, local, warehouse):
        os.makedirs(d)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            f"spark.local.dir {local}\n"
            f"spark.sql.warehouse.dir {warehouse}\n"
            "spark.ui.showConsoleProgress false\n"
            # keep every job, stage and SQL execution of a run readable
            "spark.ui.retainedJobs 100000\n"
            "spark.ui.retainedStages 100000\n"
            "spark.sql.ui.retainedExecutions 100000\n"
        )
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\nappender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    pins = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_BUILD_CACHE": "0",
    }
    os.environ.update(
        pins,
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    )
    return {**pins, "SPARK_GRAFT_PIN": "local (default)",
            "spark.driver.memory": "session default"}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args: argparse.Namespace, work: str, out_dir: str) -> dict:
    pins = pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import metrics
    import workloads
    from harness import Harness
    from probes import Spans, host_steal_s, jvm_gc_s, rss_after_gc_mb, status_mb, tree_cpu_s

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    inputs = wl.generate(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t0

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        cores = int(pins["SPARK_GRAFT_CPUS"])
        wl.start(spark)
        warmup_s = wl.warmup()
        # process start to the first timed pass, less the once-per-run
        # oracle comparison, which is a correctness check and not set-up
        setup_s = time.perf_counter() - T_PROCESS - wl.oracle_s

        spans = Spans()
        plain, traced_h = Harness(spark, False, spans), Harness(spark, True, spans)
        untraced: list[dict] = []
        traced: list[dict] = []
        # a traced run needs one pass of each kind; its untraced passes
        # only serve trace.overhead_frac
        need_plain, need_traced = (1, 1) if args.trace else (wl.min_passes, 0)
        measured = 0.0
        k = 0
        while len(untraced) < need_plain or len(traced) < need_traced or measured < args.seconds:
            is_traced = bool(args.trace) and k % 2 == 1
            tag = f"p{k}"
            h = traced_h if is_traced else plain
            if is_traced:
                h.skip()  # the traced pass reads back only its own jobs
            gc0, steal0 = jvm_gc_s(spark), host_steal_s()
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            if is_traced:
                with spans.span(f"pass {k}", kind="pass"):
                    out = wl.run_pass(h, tag)
            else:
                out = wl.run_pass(h, tag)
            wall = time.perf_counter() - t0
            rec = {"pass": k, "traced": is_traced, "wall_s": wall,
                   "cpu_s": tree_cpu_s(os.getpid()) - cpu0, "steal_s": host_steal_s() - steal0,
                   "jvm_gc_s": jvm_gc_s(spark) - gc0, **out}
            if not any(op["failed"] for op in out["ops"]):
                workloads.mark_wrong(out["ops"], wl.check())
            (traced if is_traced else untraced).append(rec)
            measured += wall
            k += 1
        peak_rss = status_mb(jvm_pid, "VmHWM")
        rss_mb = rss_after_gc_mb(spark, jvm_pid)
    finally:
        stop_spark(spark)

    tail_pct = metrics.tail_percentile(wl.min_passes * wl.ops_per_pass)
    timed = untraced + traced
    failed, attempted = metrics.failed_frac(timed)
    e2e = metrics.end_to_end(setup_s, untraced, rss_mb, tail_pct)
    n_ops = sum(len(p["ops"]) for p in untraced)
    result_metrics = (
        metrics.per_layer(traced, untraced, session_s, warmup_s, cores, inputs["bytes"])
        if args.trace else e2e
    )
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    sidecar = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": pins, "cores": cores,
        "load_model": f"closed loop, 1 client, local[{cores}]",
        "inputs": inputs,
        "setup": {"setup_s": setup_s, "session_start_s": session_s, "generate_s": gen_s,
                  "warmup_s": warmup_s, "oracle_s": wl.oracle_s},
        "op_tail_percentile": tail_pct,
        "op_samples": n_ops,
        "driver_peak_rss_mb": peak_rss,
        "ops_failed_frac": failed / attempted,
        "end_to_end": e2e,
        "metrics": result_metrics,
        "passes": [
            {"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_s"],
             "cpu_s": p["cpu_s"], "jvm_gc_s": p["jvm_gc_s"], "host_steal_s": p["steal_s"],
             **({"exec.gc_s": sum(op["layer"]["exec.gc_s"] for op in p["ops"])}
                if p["traced"] else {}),
             "ops": [{k: op[k] for k in ("name", "latency_s", "failed", "error") if k in op}
                     for op in p["ops"]]}
            for p in timed
        ],
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(sidecar, f, indent=1)
    if args.trace:
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(spans.items, f)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"load: closed loop, 1 client, local[{cores}]")
    print("environment " + " ".join(f"{k}={v}" for k, v in pins.items()))
    print(f"inputs {inputs['rows']} rows, {inputs['bytes']} bytes; "
          f"{len(untraced)} untraced + {len(traced)} traced passes")
    for name, value in e2e.items():
        note = f"  (p{tail_pct:.1f} of {n_ops} samples)" if name == "op_tail_s" else ""
        print(f"  {name:<16} {value:12.4f} {metrics.UNITS[name]}{note}")
    print(f"  {'ops_failed_frac':<16} {failed / attempted:12.4f} fraction  ({failed}/{attempted})")
    print(f"  {'(driver VmHWM)':<16} {peak_rss:12.4f} MiB")
    if args.trace:
        for name, value in result_metrics.items():
            print(f"  {name:<30} {value:14.4f} {metrics.UNITS[name]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": metrics.UNITS[n]} for n, v in result_metrics.items()},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work, out_dir = os.path.join(base, f"work-{os.getpid()}"), os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    try:
        result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
