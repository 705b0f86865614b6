"""Shallow-clone tests: a clone must equal the source snapshot, share data
file INODES (zero-copy), diverge independently in both directions, survive
source vacuum, time-travel below the clone point, and support as-of and
clone-of-clone."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from db_core_spark.plans import SnapshotUnavailableError, VersionedTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)


@pytest.fixture
def vt(spark, tmp_path):
    return VersionedTable.create(spark, str(tmp_path / "src"), key_cols=["k"], schema=SCHEMA)


def put(spark, vt, rows):
    t = vt.begin()
    t.upsert(spark.createDataFrame(rows, SCHEMA))
    return t.commit()


def rows_of(df):
    return {r.k: (r.v, r.amount) for r in df.collect()}


def test_clone_equals_source_snapshot_and_links_inodes(vt, spark, tmp_path):
    put(spark, vt, [(1, "a", 1.0), (2, "b", 2.0)])
    put(spark, vt, [(2, "b2", 20.0), (3, "c", 3.0)])
    c = vt.clone(str(tmp_path / "clone"))
    assert rows_of(c.snapshot()) == rows_of(vt.snapshot())
    assert c.latest_csn() == vt.latest_csn()
    # zero-copy: every cloned parquet file shares an inode with a source file
    src_inodes = set()
    for root, _d, files in os.walk(os.path.join(vt.path, "data")):
        for fn in files:
            src_inodes.add(os.stat(os.path.join(root, fn)).st_ino)
    clone_files = []
    for root, _d, files in os.walk(os.path.join(c.path, "data")):
        clone_files += [os.path.join(root, fn) for fn in files]
    assert clone_files
    for f in clone_files:
        st = os.stat(f)
        assert st.st_ino in src_inodes and st.st_nlink >= 2, f


def test_clone_diverges_independently(vt, spark, tmp_path):
    put(spark, vt, [(1, "a", 1.0)])
    c = vt.clone(str(tmp_path / "clone"))
    put(spark, c, [(1, "a-clone", 10.0), (5, "e", 5.0)])
    put(spark, vt, [(1, "a-src", 99.0)])
    assert rows_of(c.snapshot()) == {1: ("a-clone", 10.0), 5: ("e", 5.0)}
    assert rows_of(vt.snapshot()) == {1: ("a-src", 99.0)}
    # histories diverge above the clone point
    assert rows_of(c.snapshot(as_of_csn=1)) == rows_of(vt.snapshot(as_of_csn=1))


def test_clone_as_of_past_csn(vt, spark, tmp_path):
    csn1 = put(spark, vt, [(1, "a", 1.0)])
    put(spark, vt, [(1, "a2", 2.0)])
    c = vt.clone(str(tmp_path / "clone"), as_of_csn=csn1)
    assert c.latest_csn() == csn1
    assert rows_of(c.snapshot()) == {1: ("a", 1.0)}


@pytest.mark.heavy
def test_clone_survives_source_vacuum_and_vice_versa(vt, spark, tmp_path):
    for i in range(4):
        put(spark, vt, [(1, f"v{i}", float(i))])
    c = vt.clone(str(tmp_path / "clone"))
    # source checkpoints then vacuums away all pre-checkpoint op dirs
    vt.checkpoint()
    put(spark, vt, [(9, "post", 9.0)])
    removed = vt.vacuum(retain_seconds=0.0)
    assert removed > 0
    # the clone's hard links keep the inodes alive: full fold still works
    assert rows_of(c.snapshot()) == {1: ("v3", 3.0)}
    # and the source, post-vacuum, reads through its checkpoint fine
    assert rows_of(vt.snapshot())[9] == ("post", 9.0)
    # clone-side vacuum must not disturb the source either
    c.checkpoint()
    c.vacuum(retain_seconds=0.0)
    assert rows_of(vt.snapshot())[1] == ("v3", 3.0)


def test_clone_from_checkpointed_source_starts_at_checkpoint(vt, spark, tmp_path):
    for i in range(3):
        put(spark, vt, [(i, f"v{i}", float(i))])
    vt.checkpoint()
    put(spark, vt, [(3, "v3", 3.0)])
    c = vt.clone(str(tmp_path / "clone"))
    assert rows_of(c.snapshot()) == rows_of(vt.snapshot())
    # history BELOW the fold base is not carried; the clone fails loudly
    with pytest.raises(SnapshotUnavailableError):
        c.snapshot(as_of_csn=1).collect()


def test_clone_of_clone(vt, spark, tmp_path):
    put(spark, vt, [(1, "a", 1.0)])
    c1 = vt.clone(str(tmp_path / "c1"))
    put(spark, c1, [(2, "b", 2.0)])
    c2 = c1.clone(str(tmp_path / "c2"))
    assert rows_of(c2.snapshot()) == {1: ("a", 1.0), 2: ("b", 2.0)}
    put(spark, c2, [(3, "c", 3.0)])
    assert 3 not in rows_of(c1.snapshot())


def test_clone_refuses_reclaimed_snapshot(vt, spark, tmp_path):
    for i in range(3):
        put(spark, vt, [(1, f"v{i}", float(i))])
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)
    with pytest.raises(SnapshotUnavailableError):
        vt.clone(str(tmp_path / "clone"), as_of_csn=1)


def test_clone_race_with_vacuum_fails_loudly(vt, spark, tmp_path, monkeypatch):
    """If vacuum reclaims an op dir between manifest listing and the link
    walk, clone must raise the typed SnapshotUnavailableError, never emit a
    silently-partial clone."""
    import shutil

    put(spark, vt, [(1, "a", 1.0)])
    put(spark, vt, [(2, "b", 2.0)])
    ops = vt._committed_ops(None)
    victim = ops[-1]["dir"]
    real_read = VersionedTable._read_manifest
    state = {"fired": False}

    def sabotage(self, name):
        m = real_read(self, name)
        # emulate vacuum winning the race right after this manifest is read
        if not state["fired"] and any(op["dir"] == victim for op in m.get("ops", [])):
            shutil.rmtree(victim, ignore_errors=True)
            state["fired"] = True
        return m

    monkeypatch.setattr(VersionedTable, "_read_manifest", sabotage)
    with pytest.raises(SnapshotUnavailableError, match="vacuum"):
        vt.clone(str(tmp_path / "clone"))


@pytest.mark.heavy
def test_clone_concurrent_commit_sees_consistent_cut(vt, spark, tmp_path):
    """A commit landing while clone runs either makes the clone snapshot or
    misses it entirely — the clone equals the source AS OF the csn it
    reports, never a torn mix."""
    import threading

    put(spark, vt, [(1, "a", 1.0)])
    stop = threading.Event()
    errs = []

    def writer():
        i = 0
        while not stop.is_set() and i < 20:
            try:
                put(spark, vt, [(100 + i, f"w{i}", float(i))])
            except Exception as e:  # noqa: BLE001
                errs.append(e)
                return
            i += 1

    t = threading.Thread(target=writer)
    t.start()
    try:
        clones = []
        for j in range(3):
            c = vt.clone(str(tmp_path / f"clone{j}"))
            clones.append(c)
    finally:
        stop.set()
        t.join()
    assert not errs
    for c in clones:
        pinned = c.latest_csn()
        assert rows_of(c.snapshot()) == rows_of(vt.snapshot(as_of_csn=pinned))


@pytest.mark.heavy
def test_clone_inherits_exactly_once_epoch_markers(vt, spark, tmp_path):
    """The exactly-once streaming sink records (writer, epoch) in each
    manifest; a clone carries those markers, so REPLAYING an already-applied
    epoch against the fork is skipped — fork + replay never double-applies.
    New epochs apply to the fork alone."""
    from db_core_spark.streaming.ops import commit_microbatch

    df0 = spark.createDataFrame([(1, "e0", 1.0)], SCHEMA)
    df1 = spark.createDataFrame([(2, "e1", 2.0)], SCHEMA)
    df2 = spark.createDataFrame([(3, "e2", 3.0)], SCHEMA)
    assert commit_microbatch(vt, df0, 0, "w1") is True
    assert commit_microbatch(vt, df1, 1, "w1") is True
    c = vt.clone(str(tmp_path / "clone"))
    # replay against the fork: both epochs already durable there
    assert commit_microbatch(c, df0, 0, "w1") is False
    assert commit_microbatch(c, df1, 1, "w1") is False
    assert rows_of(c.snapshot()) == {1: ("e0", 1.0), 2: ("e1", 2.0)}
    # a fresh epoch lands on the fork only
    assert commit_microbatch(c, df2, 2, "w1") is True
    assert 3 in rows_of(c.snapshot()) and 3 not in rows_of(vt.snapshot())
    # source replay protection is intact too
    assert commit_microbatch(vt, df0, 0, "w1") is False


@pytest.mark.heavy
def test_branch_merge_from_clone(spark, tmp_path):
    """Git-style workflow: clone at a cut, diverge both sides, merge the
    branch back — disjoint changes (upserts AND a delete) fold in one
    atomic commit; overlapping keys raise unless a winner is chosen;
    on_conflict='theirs' lets the branch win."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import ConflictError, VersionedTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), key_cols=["k"], schema=schema
    )
    t = src.begin()
    t.upsert(spark.createDataFrame([(i, i * 10) for i in range(5)], schema))
    t.commit()

    br = src.clone(str(tmp_path / "branch"))

    # diverge: src changes k=0; branch changes k=3, adds k=9, deletes k=4
    t = src.begin(); t.upsert(spark.createDataFrame([(0, 111)], schema)); t.commit()
    t = br.begin(); t.upsert(spark.createDataFrame([(3, 333), (9, 999)], schema)); t.commit()
    t = br.begin(); t.delete_keys([(4,)]); t.commit()

    res = src.merge_from(br)  # base_csn from _fork.json
    assert res == {"applied": 2, "deleted": 1, "conflicts": 0}
    state = {r.k: r.v for r in src.snapshot().collect()}
    assert state == {0: 111, 1: 10, 2: 20, 3: 333, 9: 999}

    # now make a true conflict: both sides touch k=1
    base2 = src.latest_csn()
    br2 = src.clone(str(tmp_path / "branch2"))
    t = src.begin(); t.upsert(spark.createDataFrame([(1, 100)], schema)); t.commit()
    t = br2.begin(); t.upsert(spark.createDataFrame([(1, 200)], schema)); t.commit()
    with _pytest.raises(ConflictError):
        src.merge_from(br2, base_csn=base2)
    res2 = src.merge_from(br2, base_csn=base2, on_conflict="theirs")
    assert res2["conflicts"] == 1 and res2["applied"] == 1
    assert {r.v for r in src.lookup({"k": 1}).collect()} == {200}
    # 'ours' with nothing else to apply is a no-op
    res3 = src.merge_from(br2, base_csn=base2, on_conflict="ours")
    assert res3 == {"applied": 0, "deleted": 0, "conflicts": 1}


@pytest.mark.heavy
def test_branch_merge_boolean_and_timestamp_keys(spark, tmp_path):
    """Regression: write-set keys are str()-encoded from arrow values
    ('True', '2024-01-01 00:00:00'), while a Spark cast('string') yields
    'true' / a different timestamp text — a membership check mixing the
    two encodings silently SKIPS the branch's changes for such keys.
    merge_from must apply changes for boolean and timestamp keys."""
    import datetime

    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import VersionedTable

    schema = T.StructType(
        [
            T.StructField("flag", T.BooleanType()),
            T.StructField("at", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    ts1 = datetime.datetime(2024, 6, 15, 12, 30, 0)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), key_cols=["flag", "at"], schema=schema
    )
    t = src.begin()
    t.upsert(spark.createDataFrame([(True, ts0, 1), (False, ts1, 2)], schema))
    t.commit()

    br = src.clone(str(tmp_path / "branch"))
    t = br.begin()
    t.upsert(spark.createDataFrame([(True, ts0, 100), (True, ts1, 300)], schema))
    t.commit()
    t = br.begin()
    t.delete_keys([(False, ts1)])
    t.commit()

    res = src.merge_from(br)
    assert res == {"applied": 2, "deleted": 1, "conflicts": 0}
    state = {(r.flag, r.at): r.v for r in src.snapshot().collect()}
    assert state == {(True, ts0): 100, (True, ts1): 300}


def test_merge_from_refuses_vacuum_reclaimed_window(spark, tmp_path):
    """merge_from computes change sets from the op files of the commits in
    (base_csn, head]. If checkpoint+vacuum reclaimed commits INSIDE that
    window, their write-sets are gone — a silent partial merge would drop
    branch changes and blind the conflict check, so it must raise."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    src = VersionedTable.create(
        spark, str(tmp_path / "msrc"), key_cols=["k"], schema=schema
    )
    t = src.begin()
    t.upsert(spark.createDataFrame([(i, i) for i in range(4)], schema))
    t.commit()

    br = src.clone(str(tmp_path / "mbranch"))
    t = br.begin(); t.upsert(spark.createDataFrame([(1, 100)], schema)); t.commit()
    t = br.begin(); t.upsert(spark.createDataFrame([(2, 200)], schema)); t.commit()
    # reclaim the branch's merge window: checkpoint covers both commits,
    # vacuum(0) removes their delta manifests (and op dirs)
    br.checkpoint()
    br.vacuum(retain_seconds=0)

    with pytest.raises(SnapshotUnavailableError, match="vacuum-reclaimed"):
        src.merge_from(br)


@pytest.mark.heavy
def test_merge_from_upsert_then_delete_same_txn(spark, tmp_path):
    """One branch txn upserts then deletes the same key: both change rows
    share one csn, so 'latest change per key' is undecidable from _csn
    alone — resolving without the _opseq tiebreak could resurrect the
    superseded upsert in the merge target. The branch's final word on the
    key is DELETE and the merge must honor it (and the reverse order,
    delete-then-upsert, must keep the upsert)."""
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    src = VersionedTable.create(
        spark, str(tmp_path / "ud_src"), key_cols=["k"], schema=schema
    )
    t = src.begin()
    t.upsert(spark.createDataFrame([(1, "base"), (2, "keep"), (3, "old3")], schema))
    t.commit()

    br = src.clone(str(tmp_path / "ud_br"))
    t = br.begin()
    t.upsert(spark.createDataFrame([(1, "stale")], schema))
    t.delete_keys([(1,)])  # final word on k=1: gone
    t.delete_keys([(3,)])
    t.upsert(spark.createDataFrame([(3, "resurrected")], schema))  # final: upsert
    t.commit()
    assert {(r.k, r.v) for r in br.snapshot().collect()} == {
        (2, "keep"), (3, "resurrected")
    }

    res = src.merge_from(br)
    assert res == {"applied": 1, "deleted": 1, "conflicts": 0}
    assert {(r.k, r.v) for r in src.snapshot().collect()} == {
        (2, "keep"), (3, "resurrected")
    }


def test_merge_from_opens_only_the_manifests_in_its_window(spark, tmp_path, monkeypatch):
    """merge_from's change sets read only the commit manifests above the
    base csn, on both sides — not every manifest of both logs."""
    from db_core_spark.plans.versioned import ConflictError

    src = VersionedTable.create(spark, str(tmp_path / "src"), key_cols=["k"], schema=SCHEMA)
    for i in range(4):
        put(spark, src, [(i, "base", 0.0)])
    src.checkpoint()
    br = src.clone(str(tmp_path / "branch"))
    base = src.latest_csn()
    put(spark, src, [(0, "ours", 1.0)])
    put(spark, br, [(0, "theirs", 2.0)])
    put(spark, br, [(7, "new", 3.0)])

    calls: list[tuple[str, str]] = []
    orig = VersionedTable._read_manifest

    def counting(self, name):
        calls.append((self.path, name))
        return orig(self, name)

    monkeypatch.setattr(VersionedTable, "_read_manifest", counting)
    # the conflict on k=0 raises before any apply: every read is the
    # change-set computation's
    with pytest.raises(ConflictError):
        src.merge_from(br)
    assert sorted(calls) == sorted(
        [(src.path, f"{base + 1:010d}.json")]
        + [(br.path, f"{c:010d}.json") for c in (base + 1, base + 2)]
    )


def test_changes_include_opseq_orders_within_txn(spark, tmp_path):
    """The public feed shape stays (_csn, _change); include_opseq opts in
    to the op's within-txn position so consumers can totally order changes
    that share a csn."""
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "ops"), key_cols=["k"], schema=schema
    )
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a")], schema))
    t.delete_keys([(1,)])
    t.commit()

    plain = vt.changes()
    assert plain.columns == ["k", "v", "_csn", "_change"]

    feed = vt.changes(include_opseq=True)
    assert feed.columns == ["k", "v", "_csn", "_change", "_opseq"]
    rows = {(r._change, r._opseq) for r in feed.collect()}
    assert rows == {("upsert", 0), ("delete", 1)}


def test_torn_clone_refuses_to_open(vt, spark, tmp_path, monkeypatch):
    """A clone interrupted mid-manifest-publish must NOT open as a
    valid-looking earlier snapshot: _meta.json is the clone's atomic
    publish point, written LAST, so the torn directory fails open() loudly
    (same manifest-last discipline as commit — staged state is invisible
    until the one atomic publish). A retry at the same path also fails
    loudly (dst exists), never silently merges into the wreckage."""
    import db_core_spark.plans.versioned as vmod

    put(spark, vt, [(1, "a", 1.0)])
    put(spark, vt, [(2, "b", 2.0)])
    put(spark, vt, [(3, "c", 3.0)])

    dst = str(tmp_path / "torn_clone")
    real = vmod.publish_manifest
    calls = {"n": 0}

    def flaky(log_dir, name, manifest):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError("injected crash mid-clone")
        return real(log_dir, name, manifest)

    monkeypatch.setattr(vmod, "publish_manifest", flaky)
    with pytest.raises(OSError, match="injected"):
        vt.clone(dst)
    monkeypatch.setattr(vmod, "publish_manifest", real)

    # the torn directory exists with a manifest prefix but NO _meta.json
    assert os.path.isdir(os.path.join(dst, "_commitlog"))
    assert not os.path.exists(os.path.join(dst, "_meta.json"))
    with pytest.raises(FileNotFoundError):
        VersionedTable.open(spark, dst)

    # retry at the same path is loud (never merges into the wreckage) ...
    with pytest.raises(FileExistsError):
        vt.clone(dst)
    # ... and a clean-path retry produces a full, correct clone
    good = vt.clone(str(tmp_path / "clone_ok"))
    assert rows_of(good.snapshot()) == rows_of(vt.snapshot())


def test_null_key_is_not_the_string_none(spark, tmp_path):
    """A NULL key and the string key 'None' are different keys.
    merge_from(on_conflict='ours') applies a branch's NULL-key upsert
    while this table wrote 'None', and two concurrent commits of the two
    keys do not conflict."""
    schema = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    src = VersionedTable.create(spark, str(tmp_path / "nsrc"), key_cols=["k"], schema=schema)
    t = src.begin()
    t.upsert(spark.createDataFrame([("a", 1)], schema))
    t.commit()
    br = src.clone(str(tmp_path / "nbr"))
    t = br.begin()
    t.upsert(spark.createDataFrame([(None, 10)], schema))
    t.commit()
    t = src.begin()
    t.upsert(spark.createDataFrame([("None", 20)], schema))
    t.commit()

    res = src.merge_from(br, on_conflict="ours")
    assert res == {"applied": 1, "deleted": 0, "conflicts": 0}
    assert {(r.k, r.v) for r in src.snapshot().collect()} == {
        ("a", 1), ("None", 20), (None, 10)
    }

    a, b = src.begin(), src.begin()
    a.upsert(spark.createDataFrame([(None, 11)], schema))
    b.upsert(spark.createDataFrame([("None", 21)], schema))
    a.commit()
    b.commit()
    assert {(r.k, r.v) for r in src.snapshot().collect()} == {
        ("a", 1), ("None", 21), (None, 11)
    }
