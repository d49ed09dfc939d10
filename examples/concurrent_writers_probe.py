#!/usr/bin/env python3
"""N OS-process writers race the merge-on-read append on ONE table.

The commit protocol's guarantees are unit-proven at thread level
(tests/test_logstore.py contract matrix, the in-process optimistic-append
race in tests/test_partitioned_upsert.py); this probe closes the
remaining gap END-TO-END: separate Spark DRIVERS (own JVMs, own
sessions) concurrently committing real delta batches to the same state
dir through the multi-process store — the token-owned FileLock file
(SPARK_GRAFT_LOG_STORE=filelock) — each using the Delta-style
optimistic loop (append_delta_batch_optimistic: next id
from the manifest head, retry on lost race with a refreshed basis).
Optionally a further MAINTENANCE process runs the housekeeping loop
(folds/compaction/retention) against the live writers.

PASS = (a) every slice committed exactly once under a distinct batch id
across all writers, (b) the folded read equals the one-shot batch
aggregate of all rows bit-exactly, (c) at least one ConcurrentCommitError
retry was observed (proof the writers actually raced — a clean-split run
would be vacuous; the parent re-runs on a fresh state path if no
conflict happened). This probe caught three live protocol bugs in r9
(see SCALE.md's concurrent-writers section).

Usage: python examples/concurrent_writers_probe.py SF_DIR [SLICES_PER_WRITER] [N_WRITERS] [STORE]
STORE: the SPARK_GRAFT_LOG_STORE every writer process runs under;
filelock (default) is the store with cross-process exclusion.

SEQ-FENCE mode (r10, VERDICT ask #2):
  python examples/concurrent_writers_probe.py SF_DIR seq [STORE]
Two separate driver processes play INDEPENDENT sequenced-CDC producers
(own id spaces both starting at 0, own writer_id) racing direct
append_delta_batch calls on ONE table — the misconfigured
duplicate-producer scenario the optimistic API refuses outright. PASS =
exactly ONE writer lands its whole log; the other fails LOUDLY
(ConcurrentCommitError at the lease/tripwire/CAS — never a silent
mis-sequence); the final fold is bit-exact against the winner's log.

Prints one JSON line. Writer-subprocess modes (internal):
  ... --writer STATE_DIR WIDTH SLICE_DIR [SLICE_DIR ...]
  ... --seq-writer STATE_DIR WIDTH TAG DELAY_S SLICE_DIR [SLICE_DIR ...]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def writer_main() -> None:
    """Subprocess entry: append each slice optimistically; one JSON line."""
    state_dir, width = sys.argv[2], int(sys.argv[3])
    slice_dirs = sys.argv[4:]
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        append_delta_batch_optimistic,
    )

    spark = get_spark(f"concurrent-writer-{os.getpid()}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    stats: dict = {}
    commits = []
    t0 = time.monotonic()
    for d in slice_dirs:
        df = spark.read.parquet(d)
        commits.append(
            append_delta_batch_optimistic(
                spark, state_dir, df, range_width=width, stats=stats
            )
        )
    print(
        json.dumps(
            {
                "pid": os.getpid(),
                "commits": commits,
                "conflicts": stats.get("conflicts", 0),
                "wall_s": round(time.monotonic() - t0, 2),
            }
        )
    )


def seq_writer_main() -> None:
    """Subprocess entry: an independent SEQUENCED producer — direct
    append_delta_batch with its own batch ids 0..k-1 and its own
    writer_id. A loud rejection (fence, tripwire, or CAS) is the
    EXPECTED outcome for the loser and is reported as fenced=True; any
    other exception crashes the process (rc!=0 -> parent fails)."""
    state_dir, width, tag = sys.argv[2], int(sys.argv[3]), sys.argv[4]
    delay_s = float(sys.argv[5])
    slice_dirs = sys.argv[6:]
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ConcurrentCommitError,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        append_delta_batch,
    )

    spark = get_spark(f"seq-writer-{tag}-{os.getpid()}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if delay_s > 0:
        # staggered start: wait until the OTHER writer's first manifest is
        # on disk so this writer's listing sees the recorded lease and the
        # rejection exercises the fence ("owned by writer") rather than
        # the publish-time lock/CAS (delay 0 on both = the simultaneous
        # id-0 contest, which lands on the lock/CAS path instead)
        mdir = os.path.join(state_dir, "manifests")
        deadline = time.monotonic() + delay_s
        while time.monotonic() < deadline:
            if os.path.isdir(mdir) and any(
                n.startswith("v") for n in os.listdir(mdir)
            ):
                break
            time.sleep(0.2)
    commits: list[int] = []
    fenced = False
    err = ""
    t0 = time.monotonic()
    for bid, d in enumerate(slice_dirs):
        df = spark.read.parquet(d)
        try:
            append_delta_batch(
                spark, state_dir, df, bid, range_width=width, writer_id=f"writer-{tag}"
            )
            commits.append(bid)
        except ConcurrentCommitError as exc:
            fenced, err = True, str(exc)
            break
    print(
        json.dumps(
            {
                "pid": os.getpid(),
                "tag": tag,
                "commits": commits,
                "fenced": fenced,
                "error": err[:300],
                "wall_s": round(time.monotonic() - t0, 2),
            }
        )
    )


def seq_takeover_main() -> None:
    """Subprocess entry: the runbook's takeover path — a NEW producer
    claims a fenced table whose owner is dead, with takeover=True and
    batch ids strictly above the owner's newest. One JSON line."""
    state_dir, width, tag = sys.argv[2], int(sys.argv[3]), sys.argv[4]
    start_id = int(sys.argv[5])
    slice_dirs = sys.argv[6:]
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        append_delta_batch,
    )

    spark = get_spark(f"seq-takeover-{tag}-{os.getpid()}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    commits: list[int] = []
    t0 = time.monotonic()
    for k, d in enumerate(slice_dirs):
        df = spark.read.parquet(d)
        append_delta_batch(
            spark,
            state_dir,
            df,
            start_id + k,
            range_width=width,
            writer_id=f"writer-{tag}",
            takeover=True,
        )
        commits.append(start_id + k)
    print(
        json.dumps(
            {
                "pid": os.getpid(),
                "tag": tag,
                "commits": commits,
                "wall_s": round(time.monotonic() - t0, 2),
            }
        )
    )


def seq_fence_probe(sf_dir: str, store: str) -> None:
    """Parent: race two independent sequenced producers on one table."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

    spark = get_spark("seq-fence-probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = f"/tmp/seq_fence_{os.path.basename(os.path.normpath(sf_dir))}_{int(time.time())}"
    state = os.path.join(work, "state")

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        F.row_number()
        .over(Window.orderBy("o_orderkey"))
        .cast("long")
        .alias("seq"),
    )
    n = orders.count()
    max_key = orders.agg(F.max("key")).first()[0]
    width = max(100, math.ceil((max_key + 1) / 16))
    n_slices = 4
    span = n // n_slices + 1

    # two logs over the SAME seq space 1..n: writer B's differs in content
    # (amount+1000) so a silent interleave could never fold to either
    # reference — the exactness check would catch it
    logs = {
        "A": orders.withColumn("op", F.lit("upsert")),
        "B": orders.withColumn("amount", F.col("amount") + 1000).withColumn(
            "op", F.lit("upsert")
        ),
    }
    slice_dirs: dict[str, list[str]] = {}
    for tag, log in logs.items():
        dirs = []
        for j in range(n_slices):
            d = os.path.join(work, f"{tag}_slice{j}")
            log.filter(
                (F.col("seq") > j * span) & (F.col("seq") <= (j + 1) * span)
            ).write.parquet(d)
            dirs.append(d)
        slice_dirs[tag] = dirs

    env = dict(os.environ, SPARK_GRAFT_LOG_STORE=store)
    me = os.path.abspath(__file__)
    t0 = time.monotonic()
    procs = []
    # stagger mode (the default): writer B starts its appends a beat
    # after A, so A's id-0 commit is on disk and B's rejection goes
    # through the LEASE check ("owned by writer"), the r10 surface
    # under test; delay 0/0 (env SPARK_GRAFT_SEQ_STAGGER_S=0) gives
    # the simultaneous id-0 contest, rejected at the lock/CAS instead
    stagger = os.environ.get("SPARK_GRAFT_SEQ_STAGGER_S", "120")
    for tag, delay in (("A", "0"), ("B", stagger)):
        errlog = open(os.path.join(work, f"seq_{tag}.stderr"), "w")
        procs.append(
            (
                subprocess.Popen(
                    [sys.executable, me, "--seq-writer", state, str(width), tag,
                     delay]
                    + slice_dirs[tag],
                    env=env,
                    stdout=subprocess.PIPE,
                    stderr=errlog,
                    text=True,
                ),
                errlog,
            )
        )
    outs = []
    for p, errlog in procs:
        out, _ = p.communicate(timeout=1200)
        errlog.close()
        if p.returncode != 0:
            raise SystemExit(
                f"seq writer {p.pid} crashed rc={p.returncode} (a NON-"
                f"fence failure) — see {errlog.name}"
            )
        outs.append(json.loads(out.strip().splitlines()[-1]))

    winners = [r for r in outs if not r["fenced"]]
    losers = [r for r in outs if r["fenced"]]
    if len(winners) != 1 or len(losers) != 1:
        raise SystemExit(
            f"expected exactly one fenced writer, got {outs} — two "
            "completing producers would mean the silent mis-sequence "
            "the fence exists to prevent"
        )
    if len(winners[0]["commits"]) != n_slices:
        raise SystemExit(f"winner did not land its whole log: {winners[0]}")

    # TAKEOVER-AFTER-OWNER-DEATH (r11 runbook, SCALE.md): the
    # winner's PROCESS exited above — the owner is dead and the
    # lease still fences the table. A THIRD producer claims it the
    # documented way: takeover=True, batch ids strictly above the
    # owner's newest, seq continuing above the recorded max_seq.
    takeover_log = (
        logs[winners[0]["tag"]]
        .withColumn("amount", F.col("amount") + 5000)
        .withColumn("seq", (F.col("seq") + F.lit(n)).cast("long"))
        .filter(F.col("seq") <= n + 2 * span)  # two slices' worth
    )
    tdirs = []
    for j in range(2):
        d = os.path.join(work, f"T_slice{j}")
        takeover_log.filter(
            (F.col("seq") > n + j * span) & (F.col("seq") <= n + (j + 1) * span)
        ).write.parquet(d)
        tdirs.append(d)
    terr = open(os.path.join(work, "seq_T.stderr"), "w")
    tproc = subprocess.Popen(
        [sys.executable, me, "--seq-takeover", state, str(width), "T",
         str(n_slices)] + tdirs,
        env=env,
        stdout=subprocess.PIPE,
        stderr=terr,
        text=True,
    )
    tout, _ = tproc.communicate(timeout=1200)
    terr.close()
    if tproc.returncode != 0:
        raise SystemExit(
            f"takeover writer crashed rc={tproc.returncode} — see {terr.name}"
        )
    trep = json.loads(tout.strip().splitlines()[-1])
    if trep["commits"] != [n_slices, n_slices + 1]:
        raise SystemExit(f"takeover writer did not land its batches: {trep}")
    wall = time.monotonic() - t0

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        _list_manifests,
        _read_manifest,
        read_latest_partitioned_state,
    )

    newest = _read_manifest(spark, state, _list_manifests(spark, state)[-1])
    if newest.get("writer_id") != "writer-T":
        raise SystemExit(
            f"lease did not move to the takeover writer: {newest.get('writer_id')}"
        )

    got = read_latest_partitioned_state(spark, state)
    want = (
        logs[winners[0]["tag"]]
        .select("key", "amount")
        .unionByName(takeover_log.select("key", "amount"))
        .groupBy("key")
        .agg(
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    n_mismatch = got.exceptAll(want).count() + want.exceptAll(got).count()
    if n_mismatch:
        raise SystemExit(
            f"EXACTNESS FAILED: {n_mismatch} mismatching rows — the loser "
            "leaked content into the winner's lineage, or the takeover "
            "misfolded"
        )
    print(
        json.dumps(
            {
                "rung": "seq_writer_fence",
                "sf_dir": sf_dir,
                "store": store,
                "winner": winners[0]["tag"],
                "winner_commits": winners[0]["commits"],
                "loser_commits": losers[0]["commits"],
                "loser_error": losers[0]["error"][:160],
                "takeover_commits": trep["commits"],
                "lease_after": newest.get("writer_id"),
                "wall_s": round(wall, 2),
                "exact": True,
            }
        )
    )


def maintenance_main() -> None:
    """Subprocess entry: the housekeeping loop a deployment schedules
    ALONGSIDE live writers — delta folds, bucket compaction, retention
    with the default debris age horizon (which is what keeps the racing
    writers' in-flight attempt dirs safe). Lost races against the
    writers are expected and retried next round; one JSON line."""
    state_dir, stopfile = sys.argv[2], sys.argv[3]
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ConcurrentCommitError,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        maintain_partitioned_state,
    )

    spark = get_spark(f"concurrent-maint-{os.getpid()}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rounds = conflicts = folded = compacted = expired = 0
    while not os.path.exists(stopfile):
        try:
            r = maintain_partitioned_state(spark, state_dir, max_pending_deltas=2)
            folded += r["deltas_folded"]
            compacted += r["buckets_compacted"]
            expired += r["versions_expired"]
        except ConcurrentCommitError:
            # lost race — housekeeping reproduces the same logical
            # state, so the next round reconverges
            conflicts += 1
        rounds += 1
        time.sleep(0.3)
    # one final pass on the now-quiet table: the folds that lost races
    # against live writers land here, so the parent's exactness check
    # reads THROUGH a real compaction, not only pending deltas
    r = maintain_partitioned_state(spark, state_dir, max_pending_deltas=1)
    folded += r["deltas_folded"]
    compacted += r["buckets_compacted"]
    expired += r["versions_expired"]
    print(
        json.dumps(
            {
                "pid": os.getpid(),
                "maint_rounds": rounds,
                "maint_conflicts": conflicts,
                "deltas_folded": folded,
                "buckets_compacted": compacted,
                "versions_expired": expired,
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        writer_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--maintenance":
        maintenance_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--seq-writer":
        seq_writer_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--seq-takeover":
        seq_takeover_main()
        return
    if len(sys.argv) > 2 and sys.argv[2] == "seq":
        seq_fence_probe(
            sys.argv[1], sys.argv[3] if len(sys.argv) > 3 else "filelock"
        )
        return

    sf_dir = sys.argv[1]
    n_per_writer = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_writers = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    store = sys.argv[4] if len(sys.argv) > 4 else "filelock"
    with_maint = len(sys.argv) > 5 and sys.argv[5] == "maint"
    from pyspark.sql import functions as F

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

    spark = get_spark("concurrent-writers-probe")
    spark.sparkContext.setLogLevel("ERROR")

    work = f"/tmp/conc_writers_{os.path.basename(os.path.normpath(sf_dir))}_{int(time.time())}"
    state = os.path.join(work, "state")
    n_slices = n_writers * n_per_writer

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderkey").alias("okey"),
    )
    max_key = orders.agg(F.max("key")).first()[0]
    width = max(100, math.ceil((max_key + 1) / 16))

    slice_dirs = []
    for j in range(n_slices):
        d = os.path.join(work, f"slice{j}")
        orders.filter(F.col("okey") % n_slices == j).drop("okey").write.parquet(d)
        slice_dirs.append(d)

    env = dict(os.environ, SPARK_GRAFT_LOG_STORE=store)
    me = os.path.abspath(__file__)

    def launch(state_dir: str) -> tuple[list[dict], float]:
        t0 = time.monotonic()
        stopfile = os.path.join(work, f"stop_{int(t0)}")
        maint = None
        if with_maint:
            maint_err = open(os.path.join(work, "maint.stderr"), "w")
            maint = (
                subprocess.Popen(
                    [sys.executable, me, "--maintenance", state_dir, stopfile],
                    env=env,
                    stdout=subprocess.PIPE,
                    stderr=maint_err,
                    text=True,
                ),
                maint_err,
            )
        procs = []
        for k in range(n_writers):
            errlog = open(os.path.join(work, f"writer{k}.stderr"), "w")
            procs.append(
                (
                    subprocess.Popen(
                        [sys.executable, me, "--writer", state_dir, str(width)]
                        + slice_dirs[k::n_writers],
                        env=env,
                        stdout=subprocess.PIPE,
                        stderr=errlog,
                        text=True,
                    ),
                    errlog,
                )
            )
        outs = []
        for p, errlog in procs:
            out, _ = p.communicate(timeout=1200)
            errlog.close()
            if p.returncode != 0:
                raise SystemExit(
                    f"writer {p.pid} failed rc={p.returncode} — see {errlog.name}"
                )
            outs.append(json.loads(out.strip().splitlines()[-1]))
        if maint is not None:
            mp, merr = maint
            with open(stopfile, "w"):
                pass
            mout, _ = mp.communicate(timeout=600)
            merr.close()
            if mp.returncode != 0:
                raise SystemExit(
                    f"maintenance {mp.pid} failed rc={mp.returncode} — see {merr.name}"
                )
            outs.append(json.loads(mout.strip().splitlines()[-1]))
        return outs, time.monotonic() - t0

    reports, wall = launch(state)
    total_conflicts = sum(r.get("conflicts", 0) for r in reports if "commits" in r)
    attempt = 1
    while total_conflicts == 0 and attempt < 3:
        # clean split = vacuous race; re-run on a FRESH state path
        attempt += 1
        state = os.path.join(work, f"state_retry{attempt}")
        reports, wall = launch(state)
        total_conflicts = sum(
            r.get("conflicts", 0) for r in reports if "commits" in r
        )

    maint_report = next((r for r in reports if "maint_rounds" in r), None)
    reports = [r for r in reports if "commits" in r]
    all_ids = sorted(i for r in reports for i in r["commits"])
    if all_ids != list(range(n_slices)):
        raise SystemExit(f"commit ids not a clean 0..{n_slices-1}: {all_ids}")

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
        read_latest_partitioned_state,
    )

    got = read_latest_partitioned_state(spark, state)
    want = (
        orders.drop("okey")
        .groupBy("key")
        .agg(
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    n_mismatch = got.exceptAll(want).count() + want.exceptAll(got).count()
    if n_mismatch:
        raise SystemExit(f"EXACTNESS FAILED: {n_mismatch} mismatching rows")

    print(
        json.dumps(
            {
                "rung": "concurrent_mor_writers",
                "sf_dir": sf_dir,
                "store": store,
                "writers": n_writers,
                "slices": n_slices,
                "commit_ids": all_ids,
                "conflicts": total_conflicts,
                "race_runs": attempt,
                "writer_walls_s": [r["wall_s"] for r in reports],
                "wall_s": round(wall, 2),
                "maintenance": maint_report,
                "exact": True,
            }
        )
    )


if __name__ == "__main__":
    main()
