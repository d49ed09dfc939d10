"""Metric declarations, reductions and the failure accounting."""

import json
import os
import re
import subprocess
import sys

import metrics
import probes
import pharma_xml
from harness import empty_layer
from workloads import compare_etl, mark_wrong

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)[kind]}


def _op(name, latency, **layer):
    lay = empty_layer()
    lay.update(layer)
    return {"name": name, "latency_s": latency, "failed": False, "layer": lay}


def _pass(ops, extra=None):
    return {"wall_s": sum(o["latency_s"] for o in ops), "cpu_s": 3.0, "ops": ops,
            "extra": extra or {}}


def test_declarations_match_benchmark_json():
    for kind, decl in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        declared = _declared(kind)
        assert [n for n, _, _ in decl] == list(declared)
        for name, unit, better in decl:
            assert NAME.fullmatch(name)
            assert declared[name]["unit"] == unit and declared[name]["better"] == better


def test_emitted_metrics_are_exactly_the_declared_ones():
    ops = [_op(f"q{i}", 0.1 * (i + 1), **{"exec.s": 0.05, "exec.task_run_s": 0.1}) for i in range(15)]
    passes = [_pass(ops), _pass(ops)]
    e2e = metrics.end_to_end(12.0, passes, 2000.0, metrics.tail_percentile(30))
    assert set(e2e) == set(_declared("end_to_end"))
    layer = metrics.per_layer(passes, passes, 5.0, 7.0, 4, 1000)
    assert set(layer) == set(_declared("per_layer"))
    assert all(NAME.fullmatch(n) for n in [*e2e, *layer])


def test_etl_layer_ratios():
    ops = [
        _op("run_pipeline", 2.0, **{"scan.bytes": 26_000.0, "scan.tasks": 7.0}),
        _op("persist.reps", 1.0, **{"scan.bytes": 4_000.0, "scan.tasks": 3.0}),
        _op("quarterly_totals_2020", 0.5),
    ]
    p = _pass(ops, {"xml.read_s": 1.0, "xml.read_jobs": 7, "persist.files": 13,
                    "persist.bytes": 500.0})
    out = metrics.pass_layer(p, 4, 1000)
    assert out["xml.bytes_read_per_input_byte"] == 30.0
    assert out["xml.scan_tasks"] == 10.0
    assert out["persist.s"] == 1.0 and out["etl.analytics_s"] == 0.5
    assert out["persist.bytes_per_input_byte"] == 0.5


def test_tail_percentile_keeps_ten_samples_beyond_and_the_median():
    assert abs(metrics.tail_percentile(22) - 100 * 12 / 22) < 1e-9
    assert metrics.tail_percentile(15) == 50.0
    assert metrics.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert metrics.percentile([1.0, 2.0], 25) == 1.25


def test_wrong_answer_counts_in_ops_failed_frac(tmp_path):
    c = pharma_xml.generate(str(tmp_path), 1, 300)
    e = c.expected
    got = {
        "persist.reps": e["reps"], "persist.customers": e["customers"],
        "persist.products": e["products"], "persist.salestxn": e["salestxn_rows"],
        "persist.product_facts": e["product_facts"], "persist.rep_facts": e["rep_facts"],
        **{k: e[k] for k in ("quarterly_totals_2020", "best_product_2020",
                             "rep_totals_2020", "rep_quarterly_sales")},
    }
    assert compare_etl(got, e) == {}
    got["best_product_2020"] = [("nobody", 1.0)]
    got["persist.salestxn"] += 1
    bad = compare_etl(got, e)
    assert set(bad) == {"best_product_2020", "persist.salestxn"}
    ops = [_op(n, 0.1) for n in ["run_pipeline", "persist.salestxn", "best_product_2020", "x"]]
    mark_wrong(ops, bad)
    failed, attempted = metrics.failed_frac([_pass(ops)])
    assert (failed, attempted) == (2, 4)


def test_sql_metric_strings_parse():
    assert probes.parse_metric("1.6 s") == 1.6
    assert abs(probes.parse_metric("576 ms") - 0.576) < 1e-12
    assert probes.parse_metric("135.2 KiB") == 135.2 * 1024
    assert probes.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.0 s (300 ms, 500 ms, 700 ms (stage 1.0: task 3))"
    ) == 2.0


def test_run_without_the_package_fails_without_a_result(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    must exit non-zero and print no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_xml", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
