"""Commit-protocol contract tests for streaming/logstore.py (VERDICT r6
ask #3): the conditional-put store must admit EXACTLY ONE winner per
basis under racing writers, the rename store must reject non-successor
commits without publishing, and a writer that crashes between data-file
writes and manifest publish must leave the table replayable to the
clean result (torn attempts are invisible — the manifest IS the
commit)."""

from __future__ import annotations

import threading

import pytest

import pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert as pu
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ConcurrentCommitError,
    HadoopRenameLogStore,
    InProcessConditionalPutLogStore,
)


@pytest.fixture(autouse=True)
def _small_ranges(monkeypatch):
    monkeypatch.setattr(pu, "RANGE_WIDTH", 16)


@pytest.fixture()
def restore_store():
    """Restore the module default store after any test that swaps it."""
    yield
    pu.set_log_store(HadoopRenameLogStore())


def _payload(batch_id: int, **extra) -> dict:
    return {"batch_id": batch_id, "range_width": 16, "buckets": {}, "stats": {},
            **extra}


def test_conditional_put_admits_one_winner_per_basis(spark, tmp_path):
    """N racing writers, all holding the SAME basis snapshot: exactly one
    commit lands; every loser raises ConcurrentCommitError and publishes
    nothing. This is the linearizability clause an external
    conditional-put service provides — here backed by the per-table
    lock, exercised by real threads against the real FS."""
    store = InProcessConditionalPutLogStore()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    basis = tuple(store.list_commits(spark, mdir))

    outcomes: list[tuple[int, str]] = []
    lock = threading.Lock()

    def writer(k: int) -> None:
        try:
            store.commit(spark, mdir, f"v00000000{k}", _payload(k), expected=basis)
            with lock:
                outcomes.append((k, "ok"))
        except ConcurrentCommitError:
            with lock:
                outcomes.append((k, "rejected"))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(1, 9)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    winners = [k for k, o in outcomes if o == "ok"]
    assert len(winners) == 1
    assert len([k for k, o in outcomes if o == "rejected"]) == 7
    # the listing holds the base plus exactly the winner — no torn extras
    assert store.list_commits(spark, mdir) == sorted(
        ["v000000000", f"v00000000{winners[0]}"]
    )


def test_rename_store_rejects_nonsuccessor_without_publishing(spark, tmp_path):
    """The optimistic store's commit(expected=...) must reject when ANY
    foreign name appeared since the basis — newer OR replacing — and
    must not publish the rejected manifest."""
    store = HadoopRenameLogStore()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    stale = tuple(store.list_commits(spark, mdir))
    # a foreign writer lands batch 5
    store.commit(spark, mdir, "v000000005", _payload(5), expected=None)
    with pytest.raises(ConcurrentCommitError, match="concurrent writer"):
        store.commit(spark, mdir, "v000000001", _payload(1), expected=stale)
    assert "v000000001" not in store.list_commits(spark, mdir)
    # with the CURRENT listing as basis the same commit succeeds
    store.commit(
        spark, mdir, "v000000001", _payload(1),
        expected=tuple(store.list_commits(spark, mdir)),
    )
    assert "v000000001" in store.list_commits(spark, mdir)


class _CrashOnceStore(HadoopRenameLogStore):
    """Fault injection: the FIRST conditional commit dies before
    publishing — the writer has already written bucket data files and
    renamed them into place, but the manifest (the commit point) never
    lands."""

    def __init__(self):
        self.crashed = False

    def commit(self, spark, manifest_dir, name, payload, expected):
        if expected is not None and not self.crashed:
            self.crashed = True
            raise IOError("injected crash before manifest publish")
        super().commit(spark, manifest_dir, name, payload, expected)


def test_crash_during_commit_is_invisible_and_replayable(
    spark, tmp_path, restore_store
):
    """A merge that crashes between bucket renames and manifest publish
    leaves orphan bucket files but NO commit: readers still see the old
    state, and the replayed batch rewrites the same versions and commits
    cleanly to the exact clean-run result."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, 10.0), (17, 5.0)], "key long, amount double")
    b1 = spark.createDataFrame([(1, 2.0), (33, 7.0)], "key long, amount double")
    pu.merge_batch_into_partitioned_state(spark, state, b0, 0)

    pu.set_log_store(_CrashOnceStore())
    with pytest.raises(IOError, match="injected crash"):
        pu.merge_batch_into_partitioned_state(spark, state, b1, 1)
    # the crash is invisible: no batch-1 manifest, reads serve batch 0
    assert [pu._batch_id_of(v) for v in pu._list_manifests(spark, state)] == [0]
    got0 = {r["key"]: r["total"]
            for r in pu.read_latest_partitioned_state(spark, state).collect()}
    assert got0 == {1: 10.0, 17: 5.0}
    # replay of batch 1 (store now healthy) replaces the orphan versions
    pu.merge_batch_into_partitioned_state(spark, state, b1, 1)
    got1 = {r["key"]: r["total"]
            for r in pu.read_latest_partitioned_state(spark, state).collect()}
    assert got1 == {1: 12.0, 17: 5.0, 33: 7.0}


def test_concurrent_merges_serialize_under_conditional_put(
    spark, tmp_path, restore_store
):
    """Two full merges (distinct batch ids) racing on one table under the
    conditional-put store: every outcome is a serialization — either
    both commit (the slower one read the faster one's commit as basis)
    or the loser raises and publishes nothing. The final state always
    equals the reference fold of batch 0 plus exactly the batches that
    committed; repeated to sample schedules."""
    b0_rows = [(1, 10.0), (17, 5.0), (33, 1.0)]
    batch_rows = {1: [(1, 2.0), (49, 4.0)], 2: [(17, 3.0), (65, 8.0)]}

    for trial in range(3):
        state = str(tmp_path / f"state{trial}")
        pu.set_log_store(InProcessConditionalPutLogStore())
        pu.merge_batch_into_partitioned_state(
            spark,
            state,
            spark.createDataFrame(b0_rows, "key long, amount double"),
            0,
        )
        results: dict[int, str] = {}
        lock = threading.Lock()

        def writer(bid: int) -> None:
            try:
                pu.merge_batch_into_partitioned_state(
                    spark,
                    state,
                    spark.createDataFrame(batch_rows[bid], "key long, amount double"),
                    bid,
                )
                with lock:
                    results[bid] = "ok"
            except ConcurrentCommitError:
                with lock:
                    results[bid] = "rejected"

        threads = [threading.Thread(target=writer, args=(bid,)) for bid in (1, 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

        committed = sorted(
            {pu._batch_id_of(v) for v in pu._list_manifests(spark, state)}
        )
        # commits on disk == writers that reported success (plus batch 0)
        assert committed == sorted(
            [0] + [bid for bid, o in results.items() if o == "ok"]
        )
        expected: dict[int, float] = {}
        for bid in [0] + [b for b in (1, 2) if results.get(b) == "ok"]:
            rows = b0_rows if bid == 0 else batch_rows[bid]
            for k, v in rows:
                expected[k] = expected.get(k, 0.0) + v
        got = {r["key"]: r["total"]
               for r in pu.read_latest_partitioned_state(spark, state).collect()}
        assert got == expected
        assert "rejected" not in results.values() or len(committed) == 2


def test_filelock_store_cross_process_semantics(spark, tmp_path):
    """FileLockLogStore: commits serialize through an atomic
    create-if-absent lock file — a held (fresh) lock rejects loudly, a
    stale lock past the TTL is broken and the commit proceeds, the lock
    never leaks after success or rejection, and the basis check still
    rejects non-successors while holding the lock."""
    import os

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        FileLockLogStore,
    )

    store = FileLockLogStore()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    assert not os.path.exists(os.path.join(mdir, ".commit.lock"))  # released

    # a FRESH foreign lock blocks (a live commit is in flight)
    lock_path = os.path.join(mdir, ".commit.lock")
    open(lock_path, "w").close()
    basis = tuple(store.list_commits(spark, mdir))
    with pytest.raises(ConcurrentCommitError, match="another writer holds"):
        store.commit(spark, mdir, "v000000001", _payload(1), expected=basis)
    assert "v000000001" not in store.list_commits(spark, mdir)
    assert os.path.exists(lock_path)  # the foreign lock was NOT stolen

    # a STALE lock (mtime older than the TTL) is presumed orphaned: broken
    old = (os.path.getmtime(lock_path) - (store.LOCK_TTL_MS / 1000.0) - 60)
    os.utime(lock_path, (old, old))
    store.commit(spark, mdir, "v000000001", _payload(1), expected=basis)
    assert "v000000001" in store.list_commits(spark, mdir)
    assert not os.path.exists(lock_path)

    # basis check still enforced inside the lock
    with pytest.raises(ConcurrentCommitError, match="basis advanced"):
        store.commit(spark, mdir, "v000000002", _payload(2), expected=basis)
    assert not os.path.exists(lock_path)  # released after rejection too


# --- r8: unified conditional-put matrix + slow-holder ---------------------


def _conditional_stores():
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        FileLockLogStore,
    )

    return [
        ("inprocess", InProcessConditionalPutLogStore),
        ("filelock", FileLockLogStore),
    ]


@pytest.mark.parametrize(
    "store_cls", [c for _, c in _conditional_stores()], ids=[n for n, _ in _conditional_stores()]
)
def test_conditional_put_matrix_one_winner_per_basis(spark, tmp_path, store_cls):
    """Every conditional-put store — in-process lock, cross-process lock
    file — admits EXACTLY ONE winner per basis under
    racing writers; losers raise ConcurrentCommitError and publish
    nothing (the FileLock store may reject a loser at the lock rather
    than the basis check; both are the same contract exception)."""
    store = store_cls()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    basis = tuple(store.list_commits(spark, mdir))

    outcomes: list[tuple[int, str]] = []
    lock = threading.Lock()

    def writer(k: int) -> None:
        try:
            store.commit(spark, mdir, f"v00000000{k}", _payload(k), expected=basis)
            with lock:
                outcomes.append((k, "ok"))
        except ConcurrentCommitError:
            with lock:
                outcomes.append((k, "rejected"))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    winners = [k for k, o in outcomes if o == "ok"]
    assert len(winners) == 1, outcomes
    assert store.list_commits(spark, mdir) == sorted(
        ["v000000000", f"v00000000{winners[0]}"]
    )


def test_filelock_slow_holder_evicted_does_not_delete_usurper(
    spark, tmp_path, caplog
):
    """The TTL trade, pinned (VERDICT r7 'worth recording'): a live
    holder slower than LOCK_TTL_MS is evicted — the breaker logs a
    WARNING, acquires with its own token, and the evicted holder's
    release must NOT delete the usurper's lock (ownership token check),
    only warn. Both writers then race the basis check — detection, not
    corruption."""
    import logging
    import os

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        FileLockLogStore,
    )

    store = FileLockLogStore()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    lock_path = os.path.join(mdir, ".commit.lock")

    token_a = store._acquire(spark, mdir, "v000000001")
    assert os.path.exists(lock_path)
    # holder A stalls past the TTL (simulated: backdate the lock mtime)
    old = os.path.getmtime(lock_path) - (store.LOCK_TTL_MS / 1000.0) - 60
    os.utime(lock_path, (old, old))

    with caplog.at_level(logging.WARNING):
        token_b = store._acquire(spark, mdir, "v000000002")
    assert token_a != token_b
    assert any("breaking presumed-orphaned" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING):
        store._release(spark, mdir, token_a)  # evicted holder wakes up
    assert os.path.exists(lock_path), "usurper's lock must survive A's release"
    assert store._read_lock_token(spark, mdir) == token_b
    assert any("not releasing" in r.message for r in caplog.records)

    store._release(spark, mdir, token_b)
    assert not os.path.exists(lock_path)


def test_filelock_ttl_env_knob(monkeypatch):
    """SPARK_GRAFT_LOCK_TTL_MS (r13) tunes the orphaned-lock break-in
    bound per deployment — the recovery latency after a writer dies
    HOLDING the lock (the producer-replay probe runs it at 10 s so a
    SIGKILL-while-holding resolves inside the probe budget). Read at
    construction; absent -> the 5-minute default."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        FileLockLogStore,
    )

    monkeypatch.delenv("SPARK_GRAFT_LOCK_TTL_MS", raising=False)
    assert FileLockLogStore().LOCK_TTL_MS == 5 * 60 * 1000
    monkeypatch.setenv("SPARK_GRAFT_LOCK_TTL_MS", "1234")
    assert FileLockLogStore().LOCK_TTL_MS == 1234
    # the class default is untouched (instance attribute override)
    assert FileLockLogStore.LOCK_TTL_MS == 5 * 60 * 1000


def test_default_log_store_env_selection(monkeypatch):
    """SPARK_GRAFT_LOG_STORE picks the commit-protocol implementation
    without code (the deployment seam Delta exposes as
    spark.delta.logStore.class); unknown names fail loudly instead of
    falling back to the rename store."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        FileLockLogStore,
    )

    monkeypatch.delenv("SPARK_GRAFT_LOG_STORE", raising=False)
    assert isinstance(pu._default_log_store(), HadoopRenameLogStore)
    for name, cls in [
        ("inprocess", InProcessConditionalPutLogStore),
        ("filelock", FileLockLogStore),
        ("RENAME", HadoopRenameLogStore),
    ]:
        monkeypatch.setenv("SPARK_GRAFT_LOG_STORE", name)
        assert isinstance(pu._default_log_store(), cls)
    for name in ("dynamo", "arbiter"):
        monkeypatch.setenv("SPARK_GRAFT_LOG_STORE", name)
        with pytest.raises(ValueError, match="unknown SPARK_GRAFT_LOG_STORE"):
            pu._default_log_store()


@pytest.mark.parametrize(
    "store_cls",
    [HadoopRenameLogStore] + [c for _, c in _conditional_stores()],
    ids=["rename"] + [n for n, _ in _conditional_stores()],
)
def test_same_name_stale_basis_racer_never_replaces_winner(
    spark, tmp_path, store_cls
):
    """EVERY store: after a commit of `name` completes, a second writer
    committing the SAME name from a basis that predates it must raise
    ConcurrentCommitError and leave the winner's payload untouched —
    while a replayer whose basis INCLUDES the name may idempotently
    re-publish it (the interface contract's replay clause)."""
    store = store_cls()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    stale_basis = tuple(store.list_commits(spark, mdir))
    winner = _payload(1, marker="winner")
    store.commit(spark, mdir, "v000000001", winner, expected=stale_basis)
    with pytest.raises(ConcurrentCommitError):
        store.commit(
            spark, mdir, "v000000001", _payload(1, marker="racer"),
            expected=stale_basis,
        )
    assert store.read_commit(spark, mdir, "v000000001")["marker"] == "winner"
    # replay clause: basis includes the name -> same-name re-publish ok
    replay_basis = tuple(store.list_commits(spark, mdir))
    store.commit(
        spark, mdir, "v000000001", _payload(1, marker="winner"),
        expected=replay_basis,
    )
    assert store.read_commit(spark, mdir, "v000000001")["marker"] == "winner"


def test_filelock_acquire_read_failure_retries_then_releases(spark, tmp_path):
    """Transient IO during the acquire-side token verification must not
    strand the writer's own lock until the TTL break-in: one failed read
    is retried (commit proceeds); a persistent verification failure
    raises the contract error AND best-effort releases the writer's own
    lock so other writers aren't stalled."""
    import os as _os

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        FileLockLogStore,
    )

    mdir = str(tmp_path / "state" / "manifests")
    lock_path = _os.path.join(mdir, ".commit.lock")

    class FlakyReadStore(FileLockLogStore):
        def __init__(self, fail_reads: int):
            self.fail_reads = fail_reads

        def _read_lock_token(self, spark_, manifest_dir):
            if self.fail_reads > 0:
                self.fail_reads -= 1
                return self._READ_FAILED
            return super()._read_lock_token(spark_, manifest_dir)

    # one transient failure: the retry sees the token, commit lands
    store = FlakyReadStore(fail_reads=1)
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    store.commit(spark, mdir, "v000000001", _payload(1), expected=("v000000000",))
    assert store.list_commits(spark, mdir) == ["v000000000", "v000000001"]
    assert not _os.path.exists(lock_path)

    # persistent verification failure (both acquire reads fail; the
    # release's reads then succeed): loud contract error, nothing
    # published, and the writer's own lock is GONE — not a TTL stall
    store = FlakyReadStore(fail_reads=2)
    with pytest.raises(ConcurrentCommitError, match="unreadable"):
        store.commit(
            spark, mdir, "v000000002", _payload(2),
            expected=("v000000000", "v000000001"),
        )
    assert "v000000002" not in store.list_commits(spark, mdir)
    assert not _os.path.exists(lock_path), "own lock must be released"
