"""persist_warehouse on an inline XML corpus with the reference's quirks
(tests/pharma_fixtures.QUIRKS_TXNS): every persisted table equals the lazy
run_pipeline output, and stage 2 is built from the persisted star tables,
never from the XML. Needs no reference database."""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans import pharma_pipeline as pp

from .pharma_fixtures import write_quirks_corpus

DATABASE = "pharma_wh_quirks"
TABLES = ["reps", "customers", "products", "salestxn", "salestxn_repaired",
          "product_facts", "rep_facts"]


@pytest.fixture(scope="module")
def lazy(spark, tmp_path_factory):
    reps_xml, txn_xmls = write_quirks_corpus(tmp_path_factory.mktemp("quirks_xml"))
    return pp.run_pipeline(spark, reps_xml, txn_xmls)


@pytest.fixture(scope="module")
def persisted(spark, lazy, tmp_path_factory):
    """persist_warehouse with the two fact builders wrapped to record the
    DataFrames it writes the fact tables from."""
    built = {}

    def recording(fn):
        def inner(*a, **k):
            built[fn.__name__] = df = fn(*a, **k)
            return df
        return inner

    mp = pytest.MonkeyPatch()
    mp.setattr(pp, "build_product_facts", recording(pp.build_product_facts))
    mp.setattr(pp, "build_rep_facts", recording(pp.build_rep_facts))
    try:
        loc = str(tmp_path_factory.mktemp("quirks_wh"))
        wh = pp.persist_warehouse(spark, lazy, database=DATABASE, location=loc)
    finally:
        mp.undo()
    yield wh, built
    spark.sql(f"DROP DATABASE IF EXISTS {DATABASE} CASCADE")


def _scans_xml(df) -> bool:
    return "FileScan xml" in df._jdf.queryExecution().executedPlan().toString()


def test_quirks_dims_first_seen(lazy):
    assert sorted(tuple(r) for r in lazy.customers.collect()) == [
        (1, "Acme Labs", "USA"),
        (2, "Nova Health", "Brazil"),  # first sighting's country, not Germany
        (3, "Orion Clinics", "Germany"),
        (4, "Summit Pharma", "USA"),
        (5, "Helix Medical", "Brazil"),
    ]
    assert sorted(tuple(r) for r in lazy.products.collect()) == [
        (1, "Zalofexin"), (2, "Xinoprozen"), (3, "Quendaprol"), (4, "Mivarotane"),
    ]
    assert lazy.salestxn.count() == 9  # duplicate txn_ids kept (bag semantics)


@pytest.mark.parametrize("table", TABLES)
def test_persisted_table_equals_lazy_pipeline(lazy, persisted, table):
    want = getattr(lazy, table)
    got = getattr(persisted[0], table).select(*want.columns)  # partition cols move last
    assert want.count() > 0
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_fact_builds_read_no_xml(lazy, persisted):
    wh, built = persisted
    assert set(built) == {"build_product_facts", "build_rep_facts"}
    assert _scans_xml(lazy.product_facts)  # the lazy DAG does; the control
    for df in (*built.values(), wh.product_facts, wh.rep_facts):
        assert not _scans_xml(df)
