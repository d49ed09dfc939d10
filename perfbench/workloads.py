"""The benchmark's workloads.

Each workload prepares its seeded inputs, runs a warm-up pass that also
checks correctness where the check is once per run, and runs passes: one
pass is the workload's full operation list once, each operation issued
after the previous one completes.

- ``star_sql`` and ``corpus_dedup`` run registry queries over the generated
  parquet corpus (``corpus.py``). The corpus is always drawn from
  ``CORPUS_SEED``: several of these queries iterate to a data-dependent
  fixed point, so a per-seed corpus would vary the work itself. The run's
  seed permutes the operation order within each pass. Each query is
  compared with its DuckDB twin during the warm-up pass.
- ``etl_xml`` runs the paper's pipeline over the generated XML corpus
  (``pharma_xml.py``): ``run_pipeline``, ``persist_warehouse`` (one
  operation per persisted table) and the four stage-3 queries on the
  re-read tables. Every pass is checked against the generator's answers.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager, nullcontext

import corpus
import oracle
import pharma_xml
from harness import Harness, add_arrow, add_exec, add_scan, empty_layer
from probes import stage_totals

STAR_SQL = [
    "product_facts", "rep_facts", "top1_product", "top3_parts_per_brand",
    "first_order_per_customer", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9",
    "tpch_q10", "tpch_q18", "rank_functions", "moving_avg_customer", "ntile_quartiles",
    "merge_upsert",
]
CORPUS_DEDUP = [
    "exact_dedup", "text_quality", "minhash_lsh_candidates", "simhash", "simhash_near_dups",
    "embedding_near_dups", "cosine_topk", "neardup_components", "training_corpus",
    "tfidf_topk_terms", "oov_rate", "kmeans_clusters", "semdedup_candidates",
    "multimodal_resize", "repetition_ratio",
]


CORPUS_SEED = 42


class ParquetWorkload:
    """Registry queries over the seeded parquet corpus."""

    def __init__(self, name: str, queries: list[str], scale: float, min_passes: int):
        self.name = name
        self.queries = queries
        self.scale = scale
        self.min_passes = min_passes
        self.ops_per_pass = len(queries)

    def generate(self, work: str, seed: int) -> dict:
        self.data_dir = os.path.join(work, "data")
        stats = corpus.write_corpus(self.data_dir, CORPUS_SEED, self.scale)
        self._order_rng = random.Random(seed)
        return {
            "scale": self.scale,
            "rows": sum(s["rows"] for s in stats.values()),
            "bytes": sum(s["bytes"] for s in stats.values()),
            "tables": stats,
        }

    def start(self, spark) -> None:
        from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import (
            all_oracles,
            all_queries,
        )

        self.spark = spark
        registry = all_queries()
        self.fns = {q: registry[q] for q in self.queries}
        self.oracles = all_oracles()
        self.wrong: dict[str, str] = {}

    def warmup(self) -> float:
        """One pass that collects every result and compares it with the
        query's DuckDB twin. Returns the Spark-side seconds; the comparison's
        own seconds go to `oracle_s`."""
        t0 = time.perf_counter()
        con = oracle.duckdb_conn(self.data_dir, corpus.TABLES)
        self.oracle_s = time.perf_counter() - t0
        spark_s = 0.0
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                got = self.fns[q](self.spark, self.data_dir).toPandas()
            except Exception as e:
                spark_s += time.perf_counter() - t0
                self.wrong[q] = f"{type(e).__name__}: {e}"[:300]
                continue
            t1 = time.perf_counter()
            spark_s += t1 - t0
            reason = oracle.frames_differ(got, con.execute(self.oracles[q]).df())
            if reason:
                self.wrong[q] = reason
            self.oracle_s += time.perf_counter() - t1
        t0 = time.perf_counter()
        con.close()
        self.oracle_s += time.perf_counter() - t0
        return spark_s

    def run_pass(self, h: Harness, tag: str) -> dict:
        order = self.queries[:]
        self._order_rng.shuffle(order)
        ops = [
            h.query_op(tag, q, lambda q=q: self.fns[q](self.spark, self.data_dir))
            for q in order
        ]
        mark_wrong(ops, self.wrong)
        return {"ops": ops, "extra": {}}

    def check(self) -> dict[str, str]:
        """Results are compared once per run, in the warm-up pass."""
        return {}


def mark_wrong(ops: list[dict], wrong: dict[str, str]) -> None:
    """Count each operation named in `wrong` ({name: reason}) as failed."""
    for op in ops:
        if op["name"] in wrong and not op["failed"]:
            op["failed"], op["error"] = True, "wrong answer: " + wrong[op["name"]]


PERSISTED = ["reps", "customers", "products", "salestxn", "product_facts", "rep_facts"]
ANALYTICS = [
    ("quarterly_totals_2020", "product_facts"),
    ("best_product_2020", "product_facts"),
    ("rep_totals_2020", "rep_facts"),
    ("rep_quarterly_sales", "rep_facts"),
]
ETL_STAGES = [
    ("etl.dims_s", ("reps", "customers", "products")),
    ("etl.salestxn_s", ("salestxn",)),
    ("etl.product_facts_s", ("product_facts",)),
    ("etl.rep_facts_s", ("rep_facts",)),
]
DATABASE = "perfbench_wh"


@contextmanager
def table_writes(on_start, marks: list):
    """Record the end time of every table the block writes through
    ``DataFrameWriter.saveAsTable`` or a ``CREATE TABLE ... AS`` statement;
    `on_start(table)` runs just before each write."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameWriter

    save, sql = DataFrameWriter.saveAsTable, SparkSession.sql

    def timed_save(self, name, *a, **k):
        table = name.rsplit(".", 1)[-1]
        on_start(table)
        out = save(self, name, *a, **k)
        marks.append((table, time.perf_counter()))
        return out

    def timed_sql(self, query, *a, **k):
        words = query.split()
        if [w.upper() for w in words[:2]] != ["CREATE", "TABLE"]:
            return sql(self, query, *a, **k)
        table = words[2].rsplit(".", 1)[-1]
        on_start(table)
        out = sql(self, query, *a, **k)
        marks.append((table, time.perf_counter()))
        return out

    DataFrameWriter.saveAsTable, SparkSession.sql = timed_save, timed_sql
    try:
        yield
    finally:
        DataFrameWriter.saveAsTable, SparkSession.sql = save, sql


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class EtlXml:
    """The paper's XML -> warehouse -> analytics pipeline."""

    name = "etl_xml"
    oracle_s = 0.0  # checked after every pass, outside the timed region

    def __init__(self, records: int, min_passes: int):
        self.records = records
        self.min_passes = min_passes
        self.ops_per_pass = 1 + len(PERSISTED) + len(ANALYTICS)

    def generate(self, work: str, seed: int) -> dict:
        self.corpus = pharma_xml.generate(os.path.join(work, "xml"), seed, self.records)
        self.location = os.path.join(work, "warehouse", f"{DATABASE}.db")
        return {
            "records": self.records,
            "rows": self.records + pharma_xml.N_REPS,
            "bytes": self.corpus.input_bytes,
            "files": 1 + len(self.corpus.txn_paths),
        }

    def start(self, spark) -> None:
        from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans import pharma_pipeline

        self.spark = spark
        self.pp = pharma_pipeline
        # read_xml_files_ordered refuses a txn file that scans as more than
        # one split; fail here with the reason instead
        conf = spark._jsparkSession.sessionState().conf()
        limit = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
        for p in self.corpus.txn_paths:
            if os.path.getsize(p) >= limit:
                raise ValueError(f"{p} is {os.path.getsize(p)} bytes, not below {limit}")
        spark.sql(f"DROP DATABASE IF EXISTS {DATABASE} CASCADE")

    def warmup(self) -> float:
        """One untraced pass. The first measured pass still runs ~20% slower
        than the ones after it; a second warm-up pass would cost more than
        the run budget leaves, and the medians absorb the one slow pass."""
        t0 = time.perf_counter()
        out = self.run_pass(Harness(self.spark, False, None), "warmup")
        failed = [op["name"] for op in out["ops"] if op["failed"]]
        if failed:
            raise RuntimeError(f"etl_xml warm-up pass failed: {failed}")
        return time.perf_counter() - t0

    def run_pass(self, h: Harness, tag: str) -> dict:
        pp, spark, c = self.pp, self.spark, self.corpus
        traced = h.traced
        ops: list[dict] = []
        extra: dict[str, float] = {}

        # 1. run_pipeline: XML schema inference + plan construction
        build = {"name": "run_pipeline", "failed": False, "layer": empty_layer()}
        xml_s: list[float] = []
        g_build, g_xml = f"{tag}.run_pipeline.build", f"{tag}.run_pipeline.xml"
        t0 = time.perf_counter()
        try:
            if traced:
                with h.spans.span("run_pipeline", kind="op"), h.group(g_build):
                    wh = self._traced_build(h, g_xml, xml_s)
            else:
                wh = pp.run_pipeline(spark, c.reps_path, c.txn_paths)
        except Exception as e:
            build.update(failed=True, error=f"{type(e).__name__}: {e}"[:300])
            build["latency_s"] = time.perf_counter() - t0
            ops.append(build)
            return self._abort(ops, "run_pipeline failed")
        build["latency_s"] = time.perf_counter() - t0
        ops.append(build)
        if traced:
            layer = build["layer"]
            layer["build.s"] += build["latency_s"]
            jobs, py = h.take()
            for g in (g_build, g_xml):
                t = stage_totals(spark, jobs.get(g, []))
                layer["build.jobs"] += t["jobs"]
                add_scan(layer, t)
            extra["xml.read_s"] = sum(xml_s)
            extra["xml.read_jobs"] = len(jobs.get(g_xml, []))
            add_arrow(layer, py.get(g_build))
            self._stage_probes(h, tag, wh, extra)

        # 2. persist_warehouse, one operation per table it writes
        marks: list[tuple[str, float]] = []

        def on_start(table: str) -> None:
            if traced:
                h.set_group(f"{tag}.persist.{table}")

        t0 = time.perf_counter()
        try:
            with table_writes(on_start, marks), (
                h.spans.span("persist_warehouse", kind="op") if traced else nullcontext()
            ):
                self.wh = pp.persist_warehouse(spark, wh, DATABASE, self.location)
        except Exception as e:
            return self._abort(ops, f"persist_warehouse failed: {type(e).__name__}: {e}"[:300])
        finally:
            if traced:
                h.set_group(None)
        t_end = time.perf_counter()
        if [m[0] for m in marks] != PERSISTED:
            raise RuntimeError(f"persist_warehouse wrote {[m[0] for m in marks]}, expected {PERSISTED}")
        jobs = h.take()[0] if traced else {}
        prev = t0
        for i, (table, t) in enumerate(marks):
            end = t_end if i == len(marks) - 1 else t  # the re-read tail joins the last table
            op = {"name": f"persist.{table}", "failed": False, "layer": empty_layer(),
                  "latency_s": end - prev}
            prev = end
            if traced:
                t_stats = stage_totals(spark, jobs.get(f"{tag}.persist.{table}", []))
                add_exec(op["layer"], t_stats)
                add_scan(op["layer"], t_stats)
                op["layer"]["exec.s"] += op["latency_s"]
            ops.append(op)
        if traced:
            files, size = _dir_files(self.location)
            extra["persist.files"] = files
            extra["persist.bytes"] = size

        # 3. the stage-3 queries over the re-read tables
        for fn_name, table in ANALYTICS:
            fn = getattr(pp, fn_name)
            src = getattr(self.wh, table)
            ops.append(h.query_op(tag, fn_name, lambda fn=fn, src=src: fn(src)))
        return {"ops": ops, "extra": extra}

    def _traced_build(self, h: Harness, g_xml: str, xml_s: list) -> object:
        """run_pipeline with its two XML loaders timed and their jobs under
        their own group; the module's callers see the wrappers meanwhile."""
        pp = self.pp
        load_reps, load_txns = pp.load_reps, pp.load_txns_ordered

        def grouped(fn):
            def inner(*a, **k):
                t0 = time.perf_counter()
                try:
                    with h.group(g_xml), h.spans.span(f"xml.{fn.__name__}"):
                        return fn(*a, **k)
                finally:
                    xml_s.append(time.perf_counter() - t0)
            return inner

        pp.load_reps, pp.load_txns_ordered = grouped(load_reps), grouped(load_txns)
        try:
            return pp.run_pipeline(self.spark, self.corpus.reps_path, self.corpus.txn_paths)
        finally:
            pp.load_reps, pp.load_txns_ordered = load_reps, load_txns

    def _stage_probes(self, h: Harness, tag: str, wh, extra: dict) -> None:
        """Force each pipeline stage's output on its own (traced passes only;
        not part of the pass's operations)."""
        for metric, fields in ETL_STAGES:
            with h.spans.span(metric, kind="stage"), h.group(f"{tag}.{metric}"):
                t0 = time.perf_counter()
                for f in fields:
                    getattr(wh, f).write.format("noop").mode("overwrite").save()
                extra[metric] = time.perf_counter() - t0
        h.skip()  # the probes are not part of the pass

    def _abort(self, ops: list[dict], why: str) -> dict:
        done = {op["name"] for op in ops}
        names = ["run_pipeline", *(f"persist.{t}" for t in PERSISTED), *(a for a, _ in ANALYTICS)]
        for n in names:
            if n not in done:
                ops.append({"name": n, "failed": True, "layer": empty_layer(),
                            "latency_s": 0.0, "error": why})
        return {"ops": ops, "extra": {}}

    def check(self) -> dict[str, str]:
        """Compare the persisted warehouse and the stage-3 answers with the
        generator's; returns {operation: reason} for every mismatch."""
        pp, wh, e = self.pp, self.wh, self.corpus.expected
        got = {
            "persist.reps": sorted(
                (r.rep_id, r.first_name, r.last_name, r.territory) for r in wh.reps.collect()),
            "persist.customers": sorted(
                (r.customer_id, r.customer_name, r.country) for r in wh.customers.collect()),
            "persist.products": sorted(
                (r.product_id, r.product_name) for r in wh.products.collect()),
            "persist.salestxn": wh.salestxn.count(),
            "persist.product_facts": sorted(
                (r.product_name, r.year, r.quarter, r.region, r.total_sold)
                for r in wh.product_facts.collect()),
            "persist.rep_facts": sorted(
                (r.first_name, r.last_name, r.year, r.quarter, r.product_name, r.total_sold)
                for r in wh.rep_facts.collect()),
        }
        for fn_name, table in ANALYTICS:
            got[fn_name] = [tuple(r) for r in getattr(pp, fn_name)(getattr(wh, table)).collect()]
        return compare_etl(got, e)


def compare_etl(got: dict, expected: dict) -> dict[str, str]:
    want = {
        "persist.reps": expected["reps"],
        "persist.customers": expected["customers"],
        "persist.products": expected["products"],
        "persist.salestxn": expected["salestxn_rows"],
        "persist.product_facts": expected["product_facts"],
        "persist.rep_facts": expected["rep_facts"],
        "quarterly_totals_2020": expected["quarterly_totals_2020"],
        "best_product_2020": expected["best_product_2020"],
        "rep_quarterly_sales": expected["rep_quarterly_sales"],
    }
    bad = {}
    for op, w in want.items():
        if got.get(op) != w:
            bad[op] = f"got {str(got.get(op))[:120]} want {str(w)[:120]}"
    # ties in total_sales leave the order among equal totals open
    rt = got.get("rep_totals_2020") or []
    if sorted(rt) != sorted(expected["rep_totals_2020"]) or any(
        a[2] < b[2] for a, b in zip(rt, rt[1:])
    ):
        bad["rep_totals_2020"] = f"got {str(rt)[:120]}"
    return bad


WORKLOADS = {
    "etl_xml": lambda: EtlXml(records=10_000, min_passes=3),
    "corpus_dedup": lambda: ParquetWorkload("corpus_dedup", CORPUS_DEDUP, scale=0.1, min_passes=1),
    # the execution-bound control; runnable, but outside BENCHMARK.json (README.md)
    "star_sql": lambda: ParquetWorkload("star_sql", STAR_SQL, scale=0.1, min_passes=2),
}
