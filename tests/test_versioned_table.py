"""Versioned-table layer tests — ports of the reference's own test concerns
(SURVEY.md §5): lifecycle/durability, snapshot isolation, rollback,
tombstone delete, concurrent lost-update safety, recovery-by-fold,
checkpoint + vacuum.

Reference tests mirrored (citations into /root/reference):
- test_instance lifecycle              src/system/instance.rs:599-762
- snapshot isolation + rollback        src/storage/block_driver.rs:955-1008
- tombstone delete visibility          src/storage/block_driver.rs:1028-1042
- concurrent increments (lost update)  src/system/instance.rs:713-759
- recovery fold                        src/system/instance.rs:221-304
- checkpoint restore                   src/storage/block_driver.rs:1045-1056
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F, types as T

from db_core_spark.plans import ConflictError, VersionedTable
from tests.conftest import change_rows, window_snapshot

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)


@pytest.fixture
def vt(spark, tmp_path):
    return VersionedTable.create(spark, str(tmp_path / "tbl"), key_cols=["k"], schema=SCHEMA)


def rows_of(df):
    return {r.k: (r.v, r.amount) for r in df.collect()}


def test_insert_commit_read(vt, spark):
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    csn = t.commit()
    assert csn == 1
    assert rows_of(vt.snapshot()) == {1: ("a", 1.0), 2: ("b", 2.0)}


def test_update_creates_new_version_old_snapshot_stable(vt, spark):
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    csn1 = t1.commit()
    t2 = vt.begin()
    t2.upsert(spark.createDataFrame([(1, "a2", 10.0)], SCHEMA))
    csn2 = t2.commit()
    assert rows_of(vt.snapshot()) == {1: ("a2", 10.0)}
    # as-of read sees the old version (block_driver.rs:457-486)
    assert rows_of(vt.snapshot(as_of_csn=csn1)) == {1: ("a", 1.0)}
    assert vt.history().count() == 2
    assert csn2 == csn1 + 1


def test_uncommitted_invisible_and_read_your_own_writes(vt, spark):
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t1.commit()
    writer = vt.begin()
    writer.upsert(spark.createDataFrame([(1, "dirty", 99.0), (5, "new", 5.0)], SCHEMA))
    # other readers: no dirty reads
    assert rows_of(vt.snapshot()) == {1: ("a", 1.0)}
    # writer itself: sees its own uncommitted writes (entry.tsn == reader.tsn)
    assert rows_of(writer.read()) == {1: ("dirty", 99.0), 5: ("new", 5.0)}
    writer.commit()
    assert rows_of(vt.snapshot()) == {1: ("dirty", 99.0), 5: ("new", 5.0)}


def test_rollback_restores_nothing(vt, spark):
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t1.commit()
    t2 = vt.begin()
    t2.upsert(spark.createDataFrame([(1, "bad", 0.0)], SCHEMA))
    t2.rollback()
    assert rows_of(vt.snapshot()) == {1: ("a", 1.0)}
    assert vt.latest_csn() == 1
    with pytest.raises(RuntimeError):
        t2.commit()


def test_tombstone_delete_and_asof_resurrection(vt, spark):
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    csn1 = t1.commit()
    t2 = vt.begin()
    t2.delete_keys([{"k": 1}])
    t2.commit()
    assert rows_of(vt.snapshot()) == {2: ("b", 2.0)}
    # earlier snapshot still reads the deleted row (block_driver.rs:1028-1042)
    assert rows_of(vt.snapshot(as_of_csn=csn1)) == {1: ("a", 1.0), 2: ("b", 2.0)}


def test_conflict_detection_and_retry(vt, spark):
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t1.commit()
    # two txns race on the same key; the later one must fail
    ta, tb = vt.begin(), vt.begin()
    ta.upsert(spark.createDataFrame([(1, "from_a", 1.0)], SCHEMA))
    tb.upsert(spark.createDataFrame([(1, "from_b", 2.0)], SCHEMA))
    ta.commit()
    with pytest.raises(ConflictError):
        tb.commit()
    # disjoint keys do NOT conflict
    tc, td = vt.begin(), vt.begin()
    tc.upsert(spark.createDataFrame([(10, "c", 1.0)], SCHEMA))
    td.upsert(spark.createDataFrame([(11, "d", 1.0)], SCHEMA))
    tc.commit()
    td.commit()
    assert rows_of(vt.snapshot())[10] == ("c", 1.0)
    assert rows_of(vt.snapshot())[11] == ("d", 1.0)


@pytest.mark.heavy
def test_concurrent_increments_no_lost_updates(vt, spark):
    """4 threads x 5 read-modify-write txns on one row; retry on conflict;
    final amount == 20 (instance.rs:713-759, reduced iteration count for
    Spark job latency; semantics identical)."""
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "ctr", 0.0)], SCHEMA))
    t0.commit()
    N, THREADS = 5, 4
    errors = []

    def worker():
        try:
            for _ in range(N):
                while True:
                    txn = vt.begin()
                    cur = rows_of(txn.read())[1][1]
                    txn.upsert(spark.createDataFrame([(1, "ctr", cur + 1.0)], SCHEMA))
                    try:
                        txn.commit()
                        break
                    except ConflictError:
                        continue
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert rows_of(vt.snapshot())[1] == ("ctr", float(N * THREADS))


@pytest.mark.heavy
def test_run_transaction_retries_lost_update(vt, spark):
    """The bounded-wait helper IS the whole retry story for the reference's
    lost-update test (instance.rs:713-759): concurrent read-modify-write
    increments through run_transaction, no hand-written retry loop, final
    amount exact. Mirrors tran_mgr.rs:85-127 lock-wait semantics over
    optimistic retries."""
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "ctr", 0.0)], SCHEMA))
    t0.commit()
    N, THREADS = 3, 4
    errors = []

    def worker():
        try:
            for _ in range(N):

                def build(txn):
                    cur = rows_of(txn.read())[1][1]
                    txn.upsert(spark.createDataFrame([(1, "ctr", cur + 1.0)], SCHEMA))

                vt.run_transaction(build, backoff_ms=10)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert rows_of(vt.snapshot())[1] == ("ctr", float(N * THREADS))


def test_run_transaction_timeout_raises_typed_error(vt, spark):
    """Deadline semantics mirror wait_for(tsn, timeout) -> false
    (tran_mgr.rs:108-127): a build that keeps losing the race past the
    deadline raises ConflictTimeoutError (a ConflictError subclass, so
    legacy handlers still catch it); a later untimed attempt succeeds."""
    from db_core_spark.plans import ConflictError, ConflictTimeoutError

    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "seed", 0.0)], SCHEMA))
    t0.commit()

    def contended_build(txn):
        # every attempt loses: a rival commits the same key between this
        # txn's snapshot pin and its commit
        rival = vt.begin()
        rival.upsert(spark.createDataFrame([(1, "rival", -1.0)], SCHEMA))
        rival.commit()
        txn.upsert(spark.createDataFrame([(1, "mine", 1.0)], SCHEMA))

    with pytest.raises(ConflictTimeoutError):
        vt.run_transaction(contended_build, wait_timeout_ms=0, backoff_ms=0)
    # the typed error is still a ConflictError for legacy except-clauses
    assert issubclass(ConflictTimeoutError, ConflictError)

    # an uncontended run through the same helper lands and returns the csn
    csn = vt.run_transaction(
        lambda txn: txn.upsert(spark.createDataFrame([(2, "ok", 2.0)], SCHEMA)),
        wait_timeout_ms=5000,
    )
    assert csn == vt.latest_csn()
    assert rows_of(vt.snapshot())[2] == ("ok", 2.0)


def _tsn_dirs(vt) -> set[str]:
    import os

    return {
        d for d in os.listdir(vt._data_dir)
        if d.startswith("tsn=") and os.path.isdir(os.path.join(vt._data_dir, d))
    }


def _referenced_tsns(vt) -> set[str]:
    return {"tsn=" + m["tsn"] for m in vt._manifests() if m.get("tsn")}


def test_failed_commit_attempts_leave_no_orphaned_staging(vt, spark):
    """Regression (ADVICE r6): commit() used to set _done=True before
    staging, so a ConflictError orphaned the attempt's staged tsn= parquet
    dirs (rollback blocked by _check_open) — and run_transaction leaked one
    full staged copy of the write set per lost attempt until vacuum. Every
    tsn= dir on disk must be referenced by a published manifest after both
    a direct conflicted commit and a timed-out retry loop."""
    from db_core_spark.plans import ConflictError, ConflictTimeoutError

    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "seed", 0.0)], SCHEMA))
    t0.commit()

    # direct conflicted commit: loser's staging must vanish
    ta, tb = vt.begin(), vt.begin()
    ta.upsert(spark.createDataFrame([(1, "winner", 1.0)], SCHEMA))
    tb.upsert(spark.createDataFrame([(1, "loser", 2.0)], SCHEMA))
    ta.commit()
    with pytest.raises(ConflictError):
        tb.commit()
    assert _tsn_dirs(vt) == _referenced_tsns(vt)

    # retry loop that times out after several lost attempts: no per-attempt
    # staged copies left behind
    def contended_build(txn):
        rival = vt.begin()
        rival.upsert(spark.createDataFrame([(1, "rival", -1.0)], SCHEMA))
        rival.commit()
        txn.upsert(spark.createDataFrame([(1, "mine", 1.0)], SCHEMA))

    with pytest.raises(ConflictTimeoutError):
        vt.run_transaction(contended_build, wait_timeout_ms=400, backoff_ms=0)
    assert _tsn_dirs(vt) == _referenced_tsns(vt)


def test_recovery_fold_ignores_staged_uncommitted(vt, spark, tmp_path):
    """Crash semantics: staged-but-unpublished files are invisible after
    'restart' (re-open); committed data is durable (instance.rs:221-304)."""
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "durable", 1.0)], SCHEMA))
    t1.commit()
    # simulate a crash mid-commit: files staged, manifest never published
    crashed = vt.begin()
    crashed.upsert(spark.createDataFrame([(2, "lost", 2.0)], SCHEMA))
    import os

    out_dir = os.path.join(vt._data_dir, f"tsn={crashed.tsn}", "opseq=0")
    crashed._full_rows(crashed._ops[0]).drop("_csn").write.parquet(out_dir)
    # "restart": re-open from disk
    reopened = VersionedTable.open(spark, str(tmp_path / "tbl"))
    assert rows_of(reopened.snapshot()) == {1: ("durable", 1.0)}
    assert reopened.latest_csn() == 1


@pytest.mark.heavy
def test_checkpoint_and_vacuum(vt, spark):
    for i in range(4):
        t = vt.begin()
        t.upsert(spark.createDataFrame([(1, f"v{i}", float(i)), (2 + i, "x", 0.0)], SCHEMA))
        t.commit()
    t = vt.begin()
    t.delete_keys([{"k": 2}])
    t.commit()
    before = rows_of(vt.snapshot())
    ck = vt.checkpoint()
    assert ck == 5
    # snapshot identical through the checkpoint
    assert rows_of(vt.snapshot()) == before
    # new commits on top of the checkpoint still resolve
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "post-ck", 9.0)], SCHEMA))
    t.commit()
    assert rows_of(vt.snapshot())[1] == ("post-ck", 9.0)
    # vacuum with a zero retention window reclaims pre-checkpoint ops;
    # current reads unaffected (default retention mirrors the reference's
    # version_retain_time=3600s, config.rs:162 — tested separately)
    removed = vt.vacuum(retain_seconds=0.0)
    assert removed > 0
    after = rows_of(vt.snapshot())
    assert after[1] == ("post-ck", 9.0)
    assert 2 not in after


def test_vacuum_retention_window_protects_recent_versions(vt, spark):
    """Time-based retention (version_retain_time parity, config.rs:162 +
    version_store.rs:264-309): below-checkpoint versions INSIDE the window
    survive vacuum, so recent as-of reads keep working; versions outside
    the window reclaim, and reads needing them fail loudly instead of
    returning a partial fold."""
    import json
    import os

    from db_core_spark.plans import SnapshotUnavailableError

    def commit_rows(rows):
        t = vt.begin()
        t.upsert(spark.createDataFrame(rows, SCHEMA))
        return t.commit()

    c1 = commit_rows([(1, "v1", 1.0)])
    c2 = commit_rows([(1, "v2", 2.0)])
    c3 = commit_rows([(1, "v3", 3.0)])
    vt.checkpoint()
    # default window: nothing is old enough to reclaim
    assert vt.vacuum() == 0
    assert rows_of(vt.snapshot(c1)) == {1: ("v1", 1.0)}
    # age out ONLY the first commit, then vacuum with a 1h window
    mpath = os.path.join(vt.path, "_commitlog", f"{c1:010d}.json")
    m = json.load(open(mpath))
    m["ts"] -= 7200
    os.remove(mpath)
    json.dump(m, open(mpath, "w"))
    assert vt.vacuum(retain_seconds=3600.0) == 1
    # inside the window: c3 resolves via the checkpoint base
    assert rows_of(vt.snapshot(c3)) == {1: ("v3", 3.0)}
    assert rows_of(vt.snapshot()) == {1: ("v3", 3.0)}
    # c2 needs the reclaimed c1 delta (no checkpoint <= c2): loud failure
    with pytest.raises(SnapshotUnavailableError, match="reclaimed"):
        vt.snapshot(c2).collect()
    with pytest.raises(SnapshotUnavailableError):
        vt.snapshot(c1).collect()


def test_open_txn_aborts_when_vacuum_ate_its_conflict_window(vt, spark):
    """ADVICE r1 (medium): an open txn that began before a concurrent
    checkpoint+vacuum must NOT silently lose conflict detection — commit
    aborts with ConflictError when manifests in its window were reclaimed."""
    def commit_rows(rows):
        t = vt.begin()
        t.upsert(spark.createDataFrame(rows, SCHEMA))
        return t.commit()

    commit_rows([(1, "a", 1.0)])
    txn = vt.begin()  # start_csn = 1
    txn.upsert(spark.createDataFrame([(5, "mine", 5.0)], SCHEMA))
    commit_rows([(2, "concurrent", 2.0)])  # csn 2
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)  # reclaims deltas 1..2
    with pytest.raises(ConflictError, match="reclaimed"):
        txn.commit()
    # a fresh txn on the post-vacuum snapshot proceeds normally
    t2 = vt.begin()
    t2.upsert(spark.createDataFrame([(5, "mine", 5.0)], SCHEMA))
    t2.commit()
    assert rows_of(vt.snapshot())[5] == ("mine", 5.0)


def test_update_read_csn_refreshes_snapshot(vt, spark):
    """Port of the reference visibility test (block_driver.rs:955-1008) plus
    the snapshot-refresh half (instance.rs:378-387): a reader pinned at S
    stays stable across concurrent commits and rollbacks; update_read_csn()
    moves it to the latest commit."""
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "v1", 1.0)], SCHEMA))
    t0.commit()
    reader = vt.begin()  # pins start_csn = 1
    writer = vt.begin()
    writer.upsert(spark.createDataFrame([(1, "v2", 2.0)], SCHEMA))
    # uncommitted writer data invisible to the reader
    assert rows_of(reader.read()) == {1: ("v1", 1.0)}
    writer.commit()
    # still invisible: the snapshot is pinned (no read-committed drift)
    assert rows_of(reader.read()) == {1: ("v1", 1.0)}
    assert reader.update_read_csn() == 2
    assert rows_of(reader.read()) == {1: ("v2", 2.0)}
    # a rolled-back txn never becomes visible, refresh or not
    aborter = vt.begin()
    aborter.upsert(spark.createDataFrame([(1, "never", 9.0)], SCHEMA))
    aborter.rollback()
    reader.update_read_csn()
    assert rows_of(reader.read()) == {1: ("v2", 2.0)}
    # the refreshed reader's own staged writes still layer on top
    reader.upsert(spark.createDataFrame([(3, "mine", 3.0)], SCHEMA))
    assert rows_of(reader.read()) == {1: ("v2", 2.0), 3: ("mine", 3.0)}
    reader.commit()


def test_merge_conditional_upsert_semantics(vt, spark):
    """merge(): matched keys update only where the condition holds, unseen
    keys insert, 'ignore' arms skip their branch; everything stages as one
    op so conflict detection/atomicity are inherited."""
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "old", 10.0), (2, "old", 20.0)], SCHEMA))
    t0.commit()
    src = spark.createDataFrame(
        [(1, "new", 15.0), (2, "new", 5.0), (3, "new", 30.0)], SCHEMA
    )
    t1 = vt.begin()
    t1.merge(src, matched_condition="src.amount > tgt.amount")
    t1.commit()
    got = rows_of(vt.snapshot())
    assert got[1] == ("new", 15.0)   # matched, condition true -> updated
    assert got[2] == ("old", 20.0)   # matched, condition false -> kept
    assert got[3] == ("new", 30.0)   # unmatched -> inserted
    # insert-only merge (when_matched='ignore')
    t2 = vt.begin()
    t2.merge(
        spark.createDataFrame([(1, "x", 0.0), (4, "ins", 4.0)], SCHEMA),
        when_matched="ignore",
    )
    t2.commit()
    got = rows_of(vt.snapshot())
    assert got[1] == ("new", 15.0) and got[4] == ("ins", 4.0)
    # update-only merge (when_not_matched='ignore')
    t3 = vt.begin()
    t3.merge(
        spark.createDataFrame([(4, "upd", 40.0), (9, "no", 9.0)], SCHEMA),
        when_not_matched="ignore",
    )
    t3.commit()
    got = rows_of(vt.snapshot())
    assert got[4] == ("upd", 40.0) and 9 not in got


def test_commit_log_reads_bounded_by_checkpoint(vt, spark, monkeypatch):
    """Log-listing scalability (VERDICT r1 item #9): manifest names encode
    csns, so latest_csn() opens ZERO manifest JSONs, a snapshot fold opens
    1 checkpoint + O(commits since checkpoint), and a conflict check opens
    only its window — with 500 fabricated commits the counts stay bounded."""
    import time as _time

    from db_core_spark.plans.versioned import check_conflicts, publish_manifest

    N = 500
    for c in range(1, N + 1):
        # op-less commits: the count is of manifest opens, and an empty
        # commit's write-set needs no op file
        publish_manifest(
            vt._log_dir,
            f"{c:010d}.json",
            {"csn": c, "tsn": f"t{c}", "ops": [], "ts": _time.time()},
        )
    publish_manifest(
        vt._log_dir,
        f"checkpoint-{490:010d}.json",
        {"type": "checkpoint", "csn": 490, "dir": f"{vt._data_dir}/ck",
         "ts": _time.time(), "buckets": 16},
    )
    calls: list[str] = []
    orig = VersionedTable._read_manifest

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(VersionedTable, "_read_manifest", counting)
    assert vt.latest_csn() == N
    assert calls == []  # names only, zero JSON opens
    ops = vt._committed_ops(None)
    assert len(calls) == 1 + (N - 490)  # checkpoint base + 10 deltas
    assert sum(o["checkpoint"] for o in ops) == 1
    calls.clear()
    check_conflicts(
        vt.path, 495, N + 1, [], vt.config.group_pending_grace_seconds, "txn",
        read=vt._read_manifest,
    )
    assert len(calls) == N - 495  # only the conflict window is opened


def test_checkpoint_publishes_last_checkpoint_pointer(vt, spark):
    """Delta-style _last_checkpoint pointer: object-store readers start
    their listing here instead of scanning the whole log prefix."""
    import json
    import os

    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t.commit()
    csn = vt.checkpoint()
    ptr = json.load(open(os.path.join(vt._log_dir, "_last_checkpoint")))
    assert ptr == {"csn": csn, "name": f"checkpoint-{csn:010d}.json"}
    # the pointer is invisible to the manifest listing itself
    assert vt.latest_csn() == csn


def test_engine_config_and_threshold_checkpoint(spark, tmp_path):
    """EngineConfig (ConfigMt parity, config.rs:149-164) drives layout and
    maintenance: custom bucket count lands in the layout, vacuum defaults
    to the configured retention, and maybe_checkpoint() fires only once
    checkpoint_every_commits commits accumulated (checkpointer.rs:86-94
    threshold wake-up)."""
    from db_core_spark.config import EngineConfig

    cfg = EngineConfig(num_buckets=4, checkpoint_every_commits=3,
                       version_retain_seconds=0.0)
    vt = VersionedTable.create(
        spark, str(tmp_path / "cfg"), key_cols=["k"], schema=SCHEMA, config=cfg
    )
    assert vt.num_buckets == 4
    for i in range(2):
        t = vt.begin()
        t.upsert(spark.createDataFrame([(i, "v", float(i))], SCHEMA))
        t.commit()
        assert vt.maybe_checkpoint() == 0  # below threshold: name-listing only
    t = vt.begin()
    t.upsert(spark.createDataFrame([(9, "v", 9.0)], SCHEMA))
    t.commit()
    assert vt.maybe_checkpoint() == 3  # threshold reached -> materialize
    assert vt.deltas_since_checkpoint() == 0
    # configured zero retention: vacuum reclaims below the checkpoint now
    assert vt.vacuum() == 3
    assert {r.k for r in vt.snapshot().collect()} == {0, 1, 9}


def test_auto_maintain_batch_commits(spark, tmp_path):
    """config.auto_maintain=True rides the batch commit path: the Nth commit
    (N = checkpoint_every_commits) triggers a checkpoint with no explicit
    maybe_checkpoint() call — the in-line analog of the reference's
    background checkpointer thread (checkpointer.rs:44-176)."""
    from db_core_spark.config import EngineConfig

    cfg = EngineConfig(num_buckets=4, checkpoint_every_commits=3, auto_maintain=True)
    vt = VersionedTable.create(
        spark, str(tmp_path / "am"), key_cols=["k"], schema=SCHEMA, config=cfg
    )
    for i in range(3):
        t = vt.begin()
        t.upsert(spark.createDataFrame([(i, "v", float(i))], SCHEMA))
        t.commit()
    import os

    # third commit crossed the threshold -> checkpoint materialized in-line
    assert vt.deltas_since_checkpoint() == 0
    names = os.listdir(vt._log_dir)
    assert any(n.startswith("checkpoint-") for n in names)
    assert {r.k for r in vt.snapshot().collect()} == {0, 1, 2}


def test_fully_tombstoned_checkpoint_reads_empty(vt, spark, tmp_path):
    """A checkpoint of a table whose every key is tombstoned writes no
    data file, only its (empty) dir: snapshot(), history(), lookup() and
    clone() read it as empty, and later commits land on top of it."""
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    t.commit()
    t = vt.begin()
    t.delete_keys([{"k": 1}, {"k": 2}])
    t.commit()
    assert vt.checkpoint() == 2
    ck_dir = os.path.join(vt.path, "data", "checkpoint-0000000002")
    assert os.listdir(ck_dir) == []
    assert vt.snapshot().count() == 0
    assert vt.history().count() == 0
    assert vt.lookup({"k": 1}).count() == 0
    clone = vt.clone(str(tmp_path / "clone"))
    assert clone.snapshot().count() == 0
    t = vt.begin()
    t.upsert(spark.createDataFrame([(3, "c", 3.0)], SCHEMA))
    t.commit()
    assert rows_of(vt.snapshot()) == {3: ("c", 3.0)}
    assert vt.history().count() == 1
    assert rows_of(vt.lookup({"k": 3})) == {3: ("c", 3.0)}
    t = clone.begin()
    t.upsert(spark.createDataFrame([(4, "d", 4.0)], SCHEMA))
    t.commit()
    assert rows_of(clone.snapshot()) == {4: ("d", 4.0)}


def test_unbucketed_layout_is_refused(spark, tmp_path):
    """Every table is key-hash bucketed: create() refuses num_buckets < 1,
    and open() refuses a _meta.json without a bucket count."""
    for n in (0, -1):
        with pytest.raises(ValueError, match="layout"):
            VersionedTable.create(
                spark, str(tmp_path / f"t{n}"), key_cols=["k"], schema=SCHEMA, num_buckets=n
            )
        assert not os.path.exists(tmp_path / f"t{n}")
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    meta_path = os.path.join(vt.path, "_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    del meta["num_buckets"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="layout"):
        VersionedTable.open(spark, vt.path)


@pytest.mark.heavy
def test_checkpoint_of_fully_deleted_table(vt, spark):
    """Edge: every key tombstoned -> the resolved snapshot is EMPTY and the
    checkpoint writes no file, only its dir. The file-less fold base stays
    readable for the reader and the window reference, through vacuum."""
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    t.commit()
    t = vt.begin()
    t.delete_keys([{"k": 1}, {"k": 2}])
    t.commit()
    ck = vt.checkpoint()
    assert ck == 2
    assert vt.snapshot().count() == 0
    assert window_snapshot(vt).count() == 0
    vt.vacuum(retain_seconds=0.0)
    assert vt.snapshot().count() == 0
    # and the table keeps working after
    t = vt.begin()
    t.upsert(spark.createDataFrame([(3, "c", 3.0)], SCHEMA))
    t.commit()
    assert rows_of(vt.snapshot()) == {3: ("c", 3.0)}


@pytest.mark.heavy
def test_restore_resurrects_earlier_state(vt, spark):
    """Port of the reference's checkpoint-restore test concern
    (block_driver.rs:1045-1056: restoring makes a deleted object visible
    again), as an append-only RESTORE commit: deleted keys resurrect,
    later inserts disappear, and the restore itself is a normal versioned
    commit — history before it remains time-travelable."""
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "keep", 1.0), (2, "victim", 2.0)], SCHEMA))
    target = t.commit()
    t = vt.begin()
    t.delete_keys([{"k": 2}])
    t.commit()
    t = vt.begin()
    t.upsert(spark.createDataFrame([(3, "later", 3.0), (1, "edited", 9.0)], SCHEMA))
    pre_restore = t.commit()
    assert rows_of(vt.snapshot()) == {1: ("edited", 9.0), 3: ("later", 3.0)}
    restore_csn = vt.restore(target)
    assert restore_csn == pre_restore + 1
    # deleted key resurrected, later insert gone, edit reverted
    assert rows_of(vt.snapshot()) == {1: ("keep", 1.0), 2: ("victim", 2.0)}
    # the pre-restore state is still readable as-of (append-only restore)
    assert rows_of(vt.snapshot(pre_restore)) == {1: ("edited", 9.0), 3: ("later", 3.0)}


@pytest.mark.heavy
def test_alter_add_column_schema_evolution(vt, spark):
    """Schema evolution: after alter_add_column, rows written earlier read
    back with the new column null on BOTH engines (bucketed in-partition
    reader and JVM window fold), through checkpoints, as-of reads, and the
    CDC reader; new commits carry values. Existing files are not
    rewritten."""
    import pytest as _pytest

    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    c1 = t.commit()
    vt.alter_add_column("note", T.StringType())
    with _pytest.raises(ValueError):
        vt.alter_add_column("note", T.StringType())
    with _pytest.raises(ValueError):
        vt.alter_add_column("bucket", T.StringType())
    new_schema = vt.schema
    t = vt.begin()
    t.upsert(
        spark.createDataFrame([(2, "b2", 2.5, "edited"), (3, "c", 3.0, "fresh")], new_schema)
    )
    t.commit()

    def rows_with_note(df):
        return {r.k: (r.v, r.note) for r in df.collect()}

    want = {1: ("a", None), 2: ("b2", "edited"), 3: ("c", "fresh")}
    assert rows_with_note(vt.snapshot()) == want
    assert rows_with_note(window_snapshot(vt)) == want
    # as-of before the alter: latest schema governs, old rows padded
    assert rows_with_note(vt.snapshot(c1)) == {1: ("a", None), 2: ("b", None)}
    # checkpoint folds mixed-schema ops; reads stay correct after
    vt.checkpoint()
    assert rows_with_note(vt.snapshot()) == want
    t = vt.begin()
    t.upsert(spark.createDataFrame([(4, "d", 4.0, None)], new_schema))
    t.commit()
    assert rows_with_note(vt.snapshot())[4] == ("d", None)
    # CDC backfill across the alter pads old commits too
    from db_core_spark.sources.versioned_datasource import VersionedChangeStreamReader

    rdr = VersionedChangeStreamReader(new_schema, {"path": vt.path})
    rows = change_rows(rdr, rdr.partitions({"csn": 0}, {"csn": 2}))
    by_key = {}
    for r in rows:
        by_key.setdefault(r[0], []).append(r)
    # old commit rows have None note at position 3 (k, v, amount, note, csn, kind)
    assert all(r[3] is None for r in by_key[1])
    assert any(r[3] == "edited" for r in by_key[2])


def test_empty_op_commit_is_harmless(vt, spark):
    """An op that stages zero rows (empty upsert, delete of nothing) must
    not leave a file-less dir in the manifest — both read engines and the
    CDC reader keep working, and the commit still claims its csn."""
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t.commit()
    t = vt.begin()
    t.upsert(spark.createDataFrame([], SCHEMA))
    t.delete_keys([])
    assert t.commit() == 2
    assert rows_of(vt.snapshot()) == {1: ("a", 1.0)}
    assert rows_of(window_snapshot(vt)) == {1: ("a", 1.0)}
    from db_core_spark.sources.versioned_datasource import VersionedChangeStreamReader

    rdr = VersionedChangeStreamReader(SCHEMA, {"path": vt.path})
    rows = change_rows(rdr, rdr.partitions({"csn": 0}, {"csn": 2}))
    assert [(r[0], r[3]) for r in rows] == [(1, 1)]
    # and life continues on top of the empty commit
    t = vt.begin()
    t.upsert(spark.createDataFrame([(2, "b", 2.0)], SCHEMA))
    assert t.commit() == 3


def test_torn_and_foreign_log_files_are_ignored(vt, spark, tmp_path):
    """Torn-write tolerance, the immutable-file analog of the reference's
    WAL torn-tail detection (src/log_mgr/io.rs:354-387 stops the scan at a
    CRC-invalid tail record): a crashed writer can leave a _tmp-* manifest
    with partial JSON, and operators may drop unrelated files into the log
    dir — the fold must ignore every one of them, never crash, and never
    change visibility."""
    import os

    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    t.commit()
    log_dir = vt._log_dir
    assert os.path.isdir(log_dir), "commit-log dir moved; update this test"
    before_rows = rows_of(vt.snapshot())
    before_csn = vt.latest_csn()
    # torn tmp manifest (crashed mid-write), foreign file, junk-named json
    with open(os.path.join(log_dir, "_tmp-deadbeef.json"), "w") as f:
        f.write('{"csn": 99, "ops": [')  # truncated JSON
    with open(os.path.join(log_dir, "README.txt"), "w") as f:
        f.write("not a manifest")
    with open(os.path.join(log_dir, "not-a-csn.json"), "w") as f:
        f.write("{}")
    assert vt.latest_csn() == before_csn
    assert rows_of(vt.snapshot()) == before_rows
    # and a fresh handle (recovery path) folds identically
    reopened = VersionedTable(spark, vt.path)
    assert rows_of(reopened.snapshot()) == before_rows


@pytest.mark.heavy
def test_diff_between_snapshots(vt, spark):
    """diff(A, B) must show exactly the semantic changes between the two
    RESOLVED endpoints: unchanged keys absent, intermediate churn invisible,
    insert/update/delete all tagged, diff-from-0 = all inserts."""
    t1 = vt.begin()
    t1.upsert(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], SCHEMA)
    )
    csn1 = t1.commit()
    # churn: key 2 bounces through an intermediate value...
    t2 = vt.begin()
    t2.upsert(spark.createDataFrame([(2, "mid", 9.0)], SCHEMA))
    t2.commit()
    # ...then settles; key 3 deleted; key 4 inserted; key 1 untouched
    t3 = vt.begin()
    t3.upsert(spark.createDataFrame([(2, "b2", 2.5), (4, "d", 4.0)], SCHEMA))
    t3.delete_keys([{"k": 3}])
    csn3 = t3.commit()
    d = {r.k: r for r in vt.diff(csn1, csn3).collect()}
    assert set(d) == {2, 3, 4}
    assert d[2]._change == "update" and (d[2].old_v, d[2].new_v) == ("b", "b2")
    assert d[3]._change == "delete" and d[3].new_v is None and d[3].old_v == "c"
    assert d[4]._change == "insert" and d[4].old_v is None and d[4].new_v == "d"
    all_ins = vt.diff(0, csn1)
    assert {r._change for r in all_ins.collect()} == {"insert"}
    assert all_ins.count() == 3
    assert vt.diff(csn3, csn3).count() == 0
    with pytest.raises(ValueError):
        vt.diff(csn3, csn1)


def test_stats_reports_live_fold_set(vt, spark):
    s0 = vt.stats()
    assert s0["csn"] == 0 and s0["n_live_files"] == 0
    for i in range(3):
        t = vt.begin()
        t.upsert(spark.createDataFrame([(i, f"v{i}", float(i))], SCHEMA))
        t.commit()
    s1 = vt.stats()
    assert s1["csn"] == 3 and s1["n_commits"] == 3
    assert s1["deltas_since_checkpoint"] == 3
    assert s1["n_live_files"] > 0 and s1["live_bytes"] > 0
    assert s1["num_buckets"] == vt.num_buckets
    if vt.num_buckets:
        assert sum(s1["files_per_bucket"].values()) <= s1["n_live_files"]
    vt.checkpoint()
    s2 = vt.stats()
    assert s2["n_checkpoints"] == 1 and s2["deltas_since_checkpoint"] == 0
    # post-checkpoint fold set is the checkpoint alone: fewer or equal files
    vt.vacuum(retain_seconds=0.0)
    s3 = vt.stats()
    assert s3["n_live_files"] <= s2["n_live_files"]
    assert s3["csn"] == 3  # history metadata intact


def test_stats_counts_only_the_fold_set_with_preimages(spark, tmp_path):
    """CDC before-images under an op's _preimg/ are not in the fold set:
    a table that captures them reports the same live files, per bucket
    too, as one that does not."""
    from db_core_spark.config import EngineConfig

    def table(name, preimages):
        vt = VersionedTable.create(
            spark, str(tmp_path / name), key_cols=["k"], schema=SCHEMA,
            config=EngineConfig(cdc_preimages=preimages, num_buckets=4),
        )
        for i in range(3):
            t = vt.begin()
            t.upsert(spark.createDataFrame([(1, f"a{i}", 1.0), (2, f"b{i}", 2.0)], SCHEMA))
            t.commit()
        return vt

    plain, pre = table("plain", False), table("pre", True)
    assert any("_preimg" in root for root, _, files in os.walk(pre.path) if files)
    s_plain, s_pre = plain.stats(), pre.stats()
    assert s_pre["n_live_files"] == s_plain["n_live_files"] == 6
    assert s_pre["files_per_bucket"] == s_plain["files_per_bucket"]
    assert sum(s_pre["files_per_bucket"].values()) == 6


def test_vacuum_dry_run_predicts_without_deleting(vt, spark):
    for i in range(4):
        t = vt.begin()
        t.upsert(spark.createDataFrame([(1, f"v{i}", float(i))], SCHEMA))
        t.commit()
    vt.checkpoint()
    files_before = vt.stats()["n_live_files"]
    predicted = vt.vacuum(retain_seconds=0.0, dry_run=True)
    assert predicted > 0
    # nothing was touched: history still fully readable, file count unchanged
    assert vt.stats()["n_live_files"] == files_before
    assert {r.k: r.v for r in vt.snapshot(as_of_csn=1).collect()} == {1: "v0"}
    # the real vacuum reclaims exactly what the dry run predicted
    assert vt.vacuum(retain_seconds=0.0) == predicted


def test_vacuum_sweeps_orphaned_op_dirs_and_stale_staging(spark, tmp_path):
    """Op dirs no manifest references (crashed bulk append / stream epoch)
    and stale _staging leftovers are reclaimed once older than the
    retention window; referenced dirs and FRESH orphans survive."""
    import os
    import time as _t

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_orphans"), key_cols=["k"], schema=schema
    )
    txn = vt.begin()
    txn.upsert(spark.createDataFrame([(1, 10)], schema))
    txn.commit()

    data_dir = os.path.join(vt.path, "data")
    old = _t.time() - 7200
    orphan = os.path.join(data_dir, "tsn=deadbeef", "opseq=0")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-x.parquet"), "wb").write(b"junk")
    os.utime(os.path.join(orphan, "part-x.parquet"), (old, old))
    os.utime(orphan, (old, old))
    stale_stage = os.path.join(data_dir, "_staging", "abc123")
    os.makedirs(stale_stage)
    open(os.path.join(stale_stage, "part-y.parquet"), "wb").write(b"junk")
    os.utime(os.path.join(stale_stage, "part-y.parquet"), (old, old))
    os.utime(stale_stage, (old, old))
    fresh_orphan = os.path.join(data_dir, "tsn=cafebabe", "opseq=0")
    os.makedirs(fresh_orphan)
    open(os.path.join(fresh_orphan, "part-z.parquet"), "wb").write(b"junk")

    predicted = vt.vacuum(retain_seconds=3600, dry_run=True)
    assert predicted == 2  # orphan + stale staging; fresh one is age-guarded
    removed = vt.vacuum(retain_seconds=3600)
    assert removed == 2
    assert not os.path.exists(orphan)
    assert not os.path.exists(stale_stage)
    assert os.path.exists(fresh_orphan)  # in-flight writer protected
    assert vt.snapshot().count() == 1  # committed data untouched

    # regression: retain_seconds=0 (reclaim history NOW) must STILL not
    # sweep a young unreferenced dir — it may be a concurrent writer's
    # staged-but-unclaimed txn; the orphan age floor is independent
    vt.vacuum(retain_seconds=0)
    assert os.path.exists(fresh_orphan)


def test_txn_savepoint_partial_rollback(spark, tmp_path):
    """Savepoint semantics: ops staged after the mark vanish on
    rollback_to (read-your-own-writes reflects it immediately); ops
    before it commit; the mark validates its range."""
    import pytest as _pytest
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_sp"), key_cols=["k"], schema=schema
    )
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, 10)], schema))
    sp = t.savepoint()
    t.upsert(spark.createDataFrame([(2, 20)], schema))
    t.delete_keys([(1,)])
    assert {r.k for r in t.read().collect()} == {2}
    t.rollback_to(sp)
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 10)}
    with _pytest.raises(ValueError):
        t.rollback_to(99)
    t.commit()
    assert {(r.k, r.v) for r in vt.snapshot().collect()} == {(1, 10)}


def test_merge_matches_null_key_rows(spark, tmp_path):
    """merge() joins src to target with eqNullSafe, so a NULL key value DOES
    match. The matched test must use an explicit non-null marker column —
    probing tgt.<key>.isNotNull() would misroute the matched NULL-key row
    into the insert branch, producing a duplicate NULL-key row."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),  # nullable key
            T.StructField("v", T.StringType(), True),
            T.StructField("amount", T.DoubleType(), True),
        ]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "nulkey"), key_cols=["k"], schema=schema
    )
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(None, "old", 1.0), (1, "old", 10.0)], schema))
    t0.commit()

    t1 = vt.begin()
    t1.merge(spark.createDataFrame([(None, "new", 2.0), (2, "ins", 20.0)], schema))
    t1.commit()

    got = [(r.k, r.v, r.amount) for r in vt.snapshot().collect()]
    assert sorted(got, key=str) == sorted(
        [(None, "new", 2.0), (1, "old", 10.0), (2, "ins", 20.0)], key=str
    )
    # exactly ONE NULL-key row (update, not a duplicate insert)
    assert sum(1 for k, _, _ in got if k is None) == 1


@pytest.mark.heavy
def test_checkpoint_twice_at_same_csn_is_idempotent(spark, tmp_path):
    """Re-checkpointing with no new commits must be a no-op. The naive
    re-resolve would mode('overwrite') the live checkpoint dir WHILE the
    lazy scan reads it as the fold base (Spark clears the overwrite target
    before the read job runs), leaving an empty checkpoint — found by the
    maintenance-invisibility property test's shrunk example
    [commit, checkpoint, checkpoint]."""
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "ckck"), key_cols=["k"], schema=schema
    )
    t = vt.begin()
    t.upsert(spark.createDataFrame([(0, "a"), (1, "b")], schema))
    csn = t.commit()

    assert vt.checkpoint() == csn
    assert vt.checkpoint() == csn  # idempotent second call, same csn
    assert {(r.k, r.v) for r in vt.snapshot().collect()} == {(0, "a"), (1, "b")}

    # a NEW commit re-arms checkpointing at the advanced csn
    t = vt.begin()
    t.upsert(spark.createDataFrame([(2, "c")], schema))
    csn2 = t.commit()
    assert vt.checkpoint() == csn2
    assert {(r.k, r.v) for r in vt.snapshot().collect()} == {
        (0, "a"), (1, "b"), (2, "c")
    }


def test_vacuum_sweeps_torn_checkpoint_dirs(vt, spark):
    """A checkpoint() that died mid-write leaves a checkpoint-* dir with no
    manifest: invisible to readers, but a permanent disk leak unless the
    orphan sweep reclaims it. The sweep must take exactly the torn dir —
    never a manifest-referenced (live) checkpoint, regardless of age."""
    import os
    import time as _time

    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0)], vt.schema))
    t.commit()
    live_csn = vt.checkpoint()
    live_dir = os.path.join(vt._data_dir, f"checkpoint-{live_csn:010d}")
    assert os.path.isdir(live_dir)

    # torn: a mid-write crash at a LATER would-be csn (no manifest)
    torn = os.path.join(vt._data_dir, f"checkpoint-{live_csn + 7:010d}")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "wb") as f:
        f.write(b"\x00partial")
    # age everything out so only the reference guard protects the live dir
    for base, _dirs, files in os.walk(vt._data_dir):
        for fn in files:
            os.utime(os.path.join(base, fn), (0, 0))
        os.utime(base, (0, 0))

    before = {r.k for r in vt.snapshot().collect()}
    n = vt.vacuum()
    assert not os.path.exists(torn), "torn checkpoint dir not reclaimed"
    assert os.path.isdir(live_dir), "live checkpoint dir wrongly reclaimed"
    assert n >= 1
    assert {r.k for r in vt.snapshot().collect()} == before
    # dry_run counts without deleting
    torn2 = os.path.join(vt._data_dir, f"checkpoint-{live_csn + 9:010d}")
    os.makedirs(torn2)
    os.utime(torn2, (0, 0))
    assert vt.vacuum(dry_run=True) >= 1
    assert os.path.isdir(torn2)
    vt.vacuum()
    assert not os.path.exists(torn2)


def test_run_transaction_nested_timeout_is_not_retried(vt, spark):
    """A ConflictTimeoutError raised INSIDE build (e.g. a nested bounded
    helper giving up) must propagate immediately — the outer untimed loop
    retrying it would convert a bounded wait into an unbounded one."""
    from db_core_spark.plans import ConflictTimeoutError

    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(1, "seed", 0.0)], SCHEMA))
    t0.commit()
    calls = []

    def outer_build(txn):
        calls.append(1)

        def inner_contended(t):
            rival = vt.begin()
            rival.upsert(spark.createDataFrame([(1, "rival", -1.0)], SCHEMA))
            rival.commit()
            t.upsert(spark.createDataFrame([(1, "inner", 1.0)], SCHEMA))

        vt.run_transaction(inner_contended, wait_timeout_ms=0, backoff_ms=0)

    with pytest.raises(ConflictTimeoutError):
        vt.run_transaction(outer_build)  # untimed outer MUST NOT retry
    assert calls == [1]


# ------------------------------------------------- write-sets from op files


def test_commit_with_empty_conflict_window_reads_no_write_set(vt, spark, monkeypatch):
    """A commit's write-set is read from its op files only when its
    conflict window holds a concurrent commit: a commit with an empty
    window encodes no key, and one with a concurrent commit encodes both
    sides once."""
    from db_core_spark.plans import versioned

    calls: list[int] = []
    orig = versioned.write_set_keys

    def counting(tbl, key_cols):
        calls.append(tbl.num_rows)
        return orig(tbl, key_cols)

    monkeypatch.setattr(versioned, "write_set_keys", counting)
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    t.upsert(spark.createDataFrame([(3, "c", 3.0)], SCHEMA).repartition(2))
    t.commit()
    assert calls == []

    a, b = vt.begin(), vt.begin()
    a.upsert(spark.createDataFrame([(4, "a", 4.0)], SCHEMA))
    b.upsert(spark.createDataFrame([(5, "b", 5.0)], SCHEMA))
    a.commit()
    assert calls == []
    b.commit()
    assert sorted(calls) == [1, 1]


def test_bulk_commit_manifest_names_ops_not_keys(vt, spark):
    """A 5k-row commit's manifest stays under 1 KB: it names the op dirs,
    and the write-set is read back from them."""
    from db_core_spark.plans.versioned import op_write_set

    t = vt.begin()
    t.upsert(spark.createDataFrame([(i, "v", float(i)) for i in range(5000)], SCHEMA))
    csn = t.commit()
    path = os.path.join(vt._log_dir, f"{csn:010d}.json")
    assert os.path.getsize(path) < 1024
    with open(path) as fh:
        m = json.load(fh)
    assert "write_keys" not in m
    assert op_write_set(m["ops"], ["k"]) == {(str(i),) for i in range(5000)}


def test_conflict_window_over_a_missing_op_dir_raises(vt, spark):
    """A concurrent commit in the window whose op dir is gone cannot be
    checked, so the commit aborts even though the keys differ."""
    import shutil

    a, b = vt.begin(), vt.begin()
    a.upsert(spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    b.upsert(spark.createDataFrame([(2, "b", 2.0)], SCHEMA))
    csn = a.commit()
    for op in vt._read_manifest(f"{csn:010d}.json")["ops"]:
        shutil.rmtree(op["dir"])
    with pytest.raises(ConflictError, match="is gone"):
        b.commit()


def test_no_manifest_carries_a_write_set():
    """Pinned in source, as tests/test_single_writer.py pins the one
    writer: no module writes or reads a stored write-set."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "db_core_spark"
    assert [str(p) for p in root.rglob("*.py") if "write_keys" in p.read_text()] == []
