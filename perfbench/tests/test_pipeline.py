"""etl_xml end to end on a tiny corpus: the generator's answers are what the
pipeline computes, a traced pass fills the XML/persist layers, and a wrong
expected answer is caught."""

import os

import pytest

import metrics
import run
from harness import Harness
from probes import Spans
from workloads import EtlXml, mark_wrong


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.pin_environment(str(tmp_path_factory.mktemp("work")))
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

    session = get_spark("perfbench-test")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run.stop_spark(session)


def test_generator_answers_match_run_pipeline(spark, tmp_path):
    wl = EtlXml(records=300, min_passes=1)
    inputs = wl.generate(str(tmp_path), 4)
    wl.start(spark)

    plain = wl.run_pass(Harness(spark, False, None), "t0")
    assert [op["name"] for op in plain["ops"] if op["failed"]] == []
    assert len(plain["ops"]) == wl.ops_per_pass
    assert wl.check() == {}

    traced = wl.run_pass(Harness(spark, True, Spans()), "t1")
    assert wl.check() == {}
    layer = metrics.pass_layer(traced, 2, inputs["bytes"])
    assert layer["xml.bytes_read_per_input_byte"] > 1
    assert layer["xml.read_jobs"] > 0 and layer["build.jobs"] > 0
    assert layer["persist.files"] >= 6 and layer["exec.jobs"] > 0
    assert layer["arrow.python_run_s"] == 0 and layer["arrow.to_python_mb"] == 0

    wl.corpus.expected["quarterly_totals_2020"] = [(1, 0.0)]
    bad = wl.check()
    assert set(bad) == {"quarterly_totals_2020"}
    mark_wrong(plain["ops"], bad)
    assert metrics.failed_frac([plain]) == (1, wl.ops_per_pass)
