#!/usr/bin/env python3
"""SIGKILL a producer mid-commit, replay its whole txn log from a second
process — prove EXACTLY-ONCE across processes (r13, VERDICT r12 ask #4).

The producer_txn=(app_id, version) contract (r12, Delta's
txnAppId/txnVersion shape) is unit-proven in-process
(tests/test_producer_txn.py); this probe closes the cross-process gap
the r12 verdict named: no probe yet killed a producer mid-commit and
replayed the same versions through a second OS process. That replay is
the crash-recovery path every real producer runs — it has no record of
which versions landed before the kill, so it resubmits ALL of them and
the TABLE must deduplicate.

Topology (on the filelock store, whose lock file spans processes):

  1. producer P1 (own Spark driver process) submits versions 0..N-1 of
     app 'prod' via append_delta_batch_optimistic(producer_txn=...);
     the parent watches the manifests dir and SIGKILLs P1 as soon as K
     final manifests exist — with commits landing back-to-back the kill
     has a real chance of landing inside a commit (delta dir written,
     lock held or manifest publish in flight). Whatever the kill's exact
     phase, P1's progress report is LOST (SIGKILL, no flush) — exactly
     like a real crashed producer.
  2. producer P2 (second process, same app_id) replays versions 0..N-1
     from the start. PASS requires P2 to SKIP at least one version
     (high-water dedup engaged — if P1 died before its first commit the
     run is vacuous and re-runs on a fresh state) and COMMIT at least
     one (P1 must not have finished — re-run otherwise).
  3. producer P3 replays 0..N-1 once more on the now-complete table:
     every submission must SKIP and the manifest head must not move —
     the "provably deduplicated" bookend.

PASS = the P2/P3 skip/commit split above, the recorded txn high-water
== N-1, and the folded table equals the one-shot aggregate of all N
slices BIT-EXACTLY (a double-applied batch would double its rows and
break the fold; a dropped one would miss rows). The probe runs
with SPARK_GRAFT_LOCK_TTL_MS=10000 so a kill that lands while P1 HOLDS
the commit lock recovers via the TTL break-in inside the probe's
budget instead of the 5-minute production default (same code path,
shorter wait).

Prints one JSON line. Producer-subprocess mode (internal):
  ... --producer STATE_DIR WIDTH APP N_VERSIONS SLICE_DIR...

Usage: python examples/producer_replay_probe.py SF_DIR [N_VERSIONS]
"""

from __future__ import annotations

import json
import math
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def producer_main() -> None:
    """Subprocess entry: submit versions 0..n-1 of one producer app.
    Reports per-version outcomes (commit id or 'skip'); one JSON line."""
    state_dir, width, app = sys.argv[2], int(sys.argv[3]), sys.argv[4]
    n_versions = int(sys.argv[5])
    slice_dirs = sys.argv[6:]
    assert len(slice_dirs) == n_versions
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        append_delta_batch_optimistic,
    )

    spark = get_spark(f"producer-{os.getpid()}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    stats: dict = {}
    outcomes: list = []
    t0 = time.monotonic()
    for v, d in enumerate(slice_dirs):
        df = spark.read.parquet(d)
        got = append_delta_batch_optimistic(
            spark,
            state_dir,
            df,
            range_width=width,
            stats=stats,
            producer_txn=(app, v),
        )
        outcomes.append("skip" if got is None else got)
    print(
        json.dumps(
            {
                "pid": os.getpid(),
                "outcomes": outcomes,
                "skips": sum(1 for o in outcomes if o == "skip"),
                "commits": [o for o in outcomes if o != "skip"],
                "conflicts": stats.get("conflicts", 0),
                "wall_s": round(time.monotonic() - t0, 2),
            }
        )
    )


def _count_final_manifests(mdir: str) -> int:
    if not os.path.isdir(mdir):
        return 0
    return len(
        [f for f in os.listdir(mdir) if f.endswith(".json") and not f.startswith(".")]
    )


def run_leg(sf_dir: str, n_versions: int) -> dict:
    from pyspark.sql import functions as F

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

    spark = get_spark("producer-replay-probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = f"/tmp/prod_replay_filelock_{os.path.basename(os.path.normpath(sf_dir))}_{int(time.time())}"
    os.makedirs(work, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderkey").alias("okey"),
    )
    max_key = orders.agg(F.max("key")).first()[0]
    width = max(100, math.ceil((max_key + 1) / 16))
    slice_dirs = []
    for v in range(n_versions):
        d = os.path.join(work, f"slice{v}")
        orders.filter(F.col("okey") % n_versions == v).drop("okey").write.parquet(d)
        slice_dirs.append(d)

    # filelock with a 10 s orphan TTL
    env = dict(
        os.environ,
        SPARK_GRAFT_LOG_STORE="filelock",
        SPARK_GRAFT_LOCK_TTL_MS="10000",
    )
    me = os.path.abspath(__file__)

    def spawn(tag: str, state: str):
        errlog = open(os.path.join(work, f"{tag}.stderr"), "w")
        return (
            subprocess.Popen(
                [sys.executable, me, "--producer", state, str(width), "prod",
                 str(n_versions)] + slice_dirs,
                env=env,
                stdout=subprocess.PIPE,
                stderr=errlog,
                text=True,
            ),
            errlog,
        )

    def one_attempt(attempt: int) -> tuple[dict, dict, str] | None:
        """Kill P1 mid-run, replay as P2. None = vacuous (P1 died too
        early or finished) — caller re-runs on a fresh state."""
        state = os.path.join(work, f"state{attempt}")
        mdir = os.path.join(state, "manifests")
        p1, p1_err = spawn(f"p1_{attempt}", state)
        # vary the kill point across attempts AND runs (pid seed): after
        # the k-th final manifest appears, the commit loop is mid-flight
        # somewhere between commits k and k+1 — delta write, lock,
        # publish or the inter-commit gap, depending on the race
        kill_at = 1 + ((attempt + os.getpid()) % max(1, n_versions - 2))
        deadline = time.monotonic() + 600
        while time.monotonic() < deadline:
            if _count_final_manifests(mdir) >= kill_at or p1.poll() is not None:
                break
            time.sleep(0.02)
        if p1.poll() is not None:  # P1 finished before the kill — vacuous
            p1_err.close()
            return None
        p1.send_signal(signal.SIGKILL)
        p1.wait(timeout=30)
        p1_err.close()

        p2, p2_err = spawn(f"p2_{attempt}", state)
        out, _ = p2.communicate(timeout=1200)
        p2_err.close()
        if p2.returncode != 0:
            raise SystemExit(
                f"replay producer P2 failed rc={p2.returncode} — see {p2_err.name}"
            )
        rep2 = json.loads(out.strip().splitlines()[-1])
        if rep2["skips"] == 0 or not rep2["commits"]:
            return None  # kill landed before any commit / after the last

        p3, p3_err = spawn(f"p3_{attempt}", state)
        out3, _ = p3.communicate(timeout=1200)
        p3_err.close()
        if p3.returncode != 0:
            raise SystemExit(
                f"verify producer P3 failed rc={p3.returncode} — see {p3_err.name}"
            )
        rep3 = json.loads(out3.strip().splitlines()[-1])
        return rep2, rep3, state

    t0 = time.monotonic()
    result = None
    attempt = 0
    while result is None and attempt < 6:
        result = one_attempt(attempt)
        attempt += 1
    if result is None:
        raise SystemExit(
            "no attempt killed P1 strictly mid-log (always too early "
            "or too late) — probe vacuous after 6 runs"
        )
    rep2, rep3, state = result

    # P3 is the dedup bookend: every version skips, head unmoved
    if rep3["skips"] != n_versions or rep3["commits"]:
        raise SystemExit(
            f"full replay on the complete table was NOT fully "
            f"deduplicated: {rep3} — double-apply"
        )

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        _list_manifests,
        _read_manifest,
        read_latest_partitioned_state,
        table_txns,
    )

    newest = _read_manifest(spark, state, _list_manifests(spark, state)[-1])
    high_water = table_txns(newest).get("prod")
    if high_water != n_versions - 1:
        raise SystemExit(
            f"txn high-water {high_water} != {n_versions - 1} — the "
            "replay lost or duplicated a version"
        )

    got = read_latest_partitioned_state(spark, state)
    want = (
        orders.drop("okey")
        .groupBy("key")
        .agg(
            F.sum(F.col("amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    n_mismatch = got.exceptAll(want).count() + want.exceptAll(got).count()
    if n_mismatch:
        raise SystemExit(
            f"EXACTNESS FAILED: {n_mismatch} mismatching "
            "rows — a batch was double-applied or lost across the kill"
        )
    return {
        "store": "filelock",
        "kill_attempts": attempt,
        "p2_skips": rep2["skips"],
        "p2_commits": rep2["commits"],
        "p3_skips": rep3["skips"],
        "txn_high_water": high_water,
        "wall_s": round(time.monotonic() - t0, 2),
        "exact": True,
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--producer":
        producer_main()
        return
    sf_dir = sys.argv[1]
    n_versions = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    out = {
        "rung": "producer_replay_exactly_once",
        "sf_dir": sf_dir,
        "versions": n_versions,
        "legs": [run_leg(sf_dir, n_versions)],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
