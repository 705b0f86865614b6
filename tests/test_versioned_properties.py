"""Model-based property test for the versioned-table layer (SURVEY.md §5
build-side strategy (c)): hypothesis drives random transaction scripts
against BOTH VersionedTable and a plain in-memory dict model; after every
commit the table snapshot must equal the model, at the latest csn AND at
every historical csn (as-of reads replay the model's commit history).

This subsumes the reference's hand-written lifecycle cases
(/root/reference/src/system/instance.rs:599-762) with generated ones:
arbitrary interleavings of upsert/delete/rollback over a small key space,
which is where version-visibility bugs (wrong latest-per-key, tombstone
leaks, rollback bleed) actually hide."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from db_core_spark.plans import VersionedTable
from tests.conftest import change_rows

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

# One transaction = a few ops then commit or rollback.
op = st.one_of(
    st.tuples(st.just("upsert"), st.integers(0, 4), st.text("abc", min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.integers(0, 4)),
)
txn = st.tuples(st.lists(op, min_size=1, max_size=3), st.booleans())  # (ops, commit?)
script = st.lists(txn, min_size=1, max_size=4)


# builder-CI band: model-replay / crash-property suites, ~11 min combined
# (VERDICT r10 item 1) — run with SPARK_GRAFT_HEAVY_TESTS=1
pytestmark = pytest.mark.heavy

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=script)
def test_snapshots_equal_model_at_every_commit(spark, tmp_path_factory, script):
    path = tmp_path_factory.mktemp("vt_prop")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []  # (csn, state after commit)

    for ops, do_commit in script:
        t = vt.begin()
        staged = dict(model)
        for o in ops:
            if o[0] == "upsert":
                _, k, v = o
                t.upsert(spark.createDataFrame([(k, v)], SCHEMA))
                staged[k] = v
            else:
                _, k = o
                if k in staged:
                    t.delete_keys([(k,)])
                    staged.pop(k)
                else:
                    t.delete_keys([(k,)])  # deleting absent key: tombstone no-op
        if do_commit:
            csn = t.commit()
            model = staged
            history.append((csn, dict(model)))
        else:
            t.rollback()  # model unchanged

    def as_dict(df):
        return {r.k: r.v for r in df.collect()}

    # latest snapshot == final model
    assert as_dict(vt.snapshot()) == model
    # every historical commit point replays exactly
    for csn, state in history:
        assert as_dict(vt.snapshot(as_of_csn=csn)) == state, f"as-of {csn} diverged"


# Maintenance ops (checkpoint / retention-safe vacuum) interleave with the
# same transaction scripts; every one must be OBSERVATIONALLY INVISIBLE —
# same latest snapshot, same every-historical-csn as-of reads. This is the
# transparency contract the reference's checkpointer provides
# (/root/reference/src/system/checkpointer.rs): maintenance may rewrite
# storage, never answers.
txn_or_maint = st.one_of(
    txn,
    st.just("checkpoint"),
    st.just("vacuum"),
)
maint_script = st.lists(txn_or_maint, min_size=2, max_size=5)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=maint_script)
def test_maintenance_is_observationally_invisible(spark, tmp_path_factory, script):
    path = tmp_path_factory.mktemp("vt_maint")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []

    def as_dict(df):
        return {r.k: r.v for r in df.collect()}

    for step in script:
        if step == "checkpoint":
            vt.checkpoint()
        elif step == "vacuum":
            # huge retention: nothing eligible -> must reclaim nothing visible
            vt.vacuum(retain_seconds=10**9)
        else:
            ops, do_commit = step
            t = vt.begin()
            staged = dict(model)
            for o in ops:
                if o[0] == "upsert":
                    _, k, v = o
                    t.upsert(spark.createDataFrame([(k, v)], SCHEMA))
                    staged[k] = v
                else:
                    _, k = o
                    t.delete_keys([(k,)])
                    staged.pop(k, None)
            if do_commit:
                csn = t.commit()
                model = staged
                history.append((csn, dict(model)))
            else:
                t.rollback()
        # invariant holds after EVERY step, maintenance included
        assert as_dict(vt.snapshot()) == model, f"after {step!r}"
        for csn, state in history:
            assert as_dict(vt.snapshot(as_of_csn=csn)) == state, (
                f"as-of {csn} diverged after {step!r}"
            )


# The change feed is a complete, totally-ordered ledger: folding
# changes(0, csn) by latest-change-per-key (ordered by csn then within-txn
# opseq, deletes dropping the key) must reproduce the model state at EVERY
# commit point — the CDC analog of the snapshot invariant above, and the
# property that makes merge_from's feed-based apply sound. Within-txn
# same-key churn (upsert then delete, delete then upsert) is generated
# deliberately: those rows share a csn and only _opseq orders them.
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=script)
def test_change_feed_fold_replays_model_at_every_commit(
    spark, tmp_path_factory, script
):
    path = tmp_path_factory.mktemp("vt_cdc")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []

    for ops, do_commit in script:
        t = vt.begin()
        staged = dict(model)
        for o in ops:
            if o[0] == "upsert":
                _, k, v = o
                t.upsert(spark.createDataFrame([(k, v)], SCHEMA))
                staged[k] = v
            else:
                _, k = o
                t.delete_keys([(k,)])
                staged.pop(k, None)
        if do_commit:
            csn = t.commit()
            model = staged
            history.append((csn, dict(model)))
        else:
            t.rollback()

    feed = vt.changes(include_opseq=True).filter(
        F.col("_change") != "update_preimage"
    )
    rows = [(r.k, r.v, r._csn, r._change, r._opseq) for r in feed.collect()]
    for csn, state in history:
        latest: dict[int, tuple] = {}
        for k, v, c, ch, seq in rows:
            if c <= csn and (k not in latest or (c, seq) > latest[k][:2]):
                latest[k] = (c, seq, ch, v)
        folded = {k: t[3] for k, t in latest.items() if t[2] != "delete"}
        assert folded == state, f"feed fold diverged at csn {csn}"


# merge() (conditional upsert) against the same dict model: matched keys
# update or are ignored, unmatched insert or are ignored, across random
# overlapping source batches — including a NULL key (the join is
# eqNullSafe, so NULL keys MATCH; a wrong matched-test duplicates them).
merge_key = st.one_of(st.integers(0, 3), st.none())
merge_batch = st.lists(
    st.tuples(merge_key, st.text("xyz", min_size=1, max_size=2)),
    min_size=1,
    max_size=3,
    unique_by=lambda kv: kv[0],
)
merge_step = st.tuples(
    merge_batch,
    st.sampled_from(["update", "ignore"]),
    st.sampled_from(["insert", "ignore"]),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(steps=st.lists(merge_step, min_size=1, max_size=3))
def test_merge_equals_model(spark, tmp_path_factory, steps):
    path = tmp_path_factory.mktemp("vt_merge")
    nullable = T.StructType(
        [T.StructField("k", T.LongType(), True), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(
        spark, str(path / "tbl"), key_cols=["k"], schema=nullable
    )
    model: dict = {}
    for batch, on_match, on_miss in steps:
        t = vt.begin()
        t.merge(
            spark.createDataFrame(batch, nullable),
            when_matched=on_match,
            when_not_matched=on_miss,
        )
        t.commit()
        for k, v in batch:
            if k in model:
                if on_match == "update":
                    model[k] = v
            elif on_miss == "insert":
                model[k] = v
        got = {r.k: r.v for r in vt.snapshot().collect()}
        assert got == model, f"after merge batch {batch} ({on_match}/{on_miss})"


# ObjectStore byte-stream model check: random create/replace/overwrite/
# append/delete scripts against plain Python bytes, with a TINY chunk size
# (3) so every payload straddles chunk boundaries. The chunk-layout
# invariant under test — every chunk except an object's last is exactly
# chunk_size bytes — is what makes write_at/read_at's offset->chunk
# arithmetic sound; any mutation that leaves a short middle chunk silently
# corrupts all later offsets.
obj_op = st.one_of(
    st.tuples(st.just("put"), st.integers(0, 1), st.binary(max_size=10)),
    st.tuples(st.just("append"), st.integers(0, 1), st.binary(max_size=7)),
    st.tuples(
        st.just("write_at"),
        st.integers(0, 1),
        st.binary(min_size=1, max_size=7),
        st.integers(0, 100),  # offset as a percentage of current length
    ),
    st.tuples(st.just("delete"), st.integers(0, 1)),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(obj_op, min_size=1, max_size=4))
def test_object_store_equals_bytes_model(spark, tmp_path_factory, script):
    from db_core_spark.plans.objects import ObjectStore

    path = tmp_path_factory.mktemp("obj_prop")
    store = ObjectStore.create(spark, str(path / "store"), chunk_size=3)
    model: dict[int, bytes] = {}
    history: list[tuple[int, dict[int, bytes]]] = []  # (csn, byte state)

    for step in script:
        kind, oid = step[0], step[1]
        t = store.begin()
        if kind == "put":
            store.put(t, oid, step[2])
            model[oid] = step[2]
        elif kind == "append":
            store.append(t, oid, step[2])
            model[oid] = model.get(oid, b"") + step[2]
        elif kind == "write_at":
            data, pct = step[2], step[3]
            cur = model.get(oid, b"")
            off = (len(cur) * pct) // 100
            store.write_at(t, oid, off, data)
            buf = bytearray(cur)
            buf[off : off + len(data)] = data
            model[oid] = bytes(buf)
        else:
            store.delete(t, oid)
            model.pop(oid, None)
        history.append((t.commit(), dict(model)))

        for o in (0, 1):
            got = store.read(None, o)
            want = model.get(o)
            assert (got or b"") == (want or b""), f"obj {o} after {step!r}"
            assert store.length(None, o) == len(want or b"")
            if want:
                mid, ln = len(want) // 2, max(1, len(want) // 3)
                assert (store.read_at(None, o, mid, ln) or b"") == want[mid : mid + ln]

    # byte-stream time travel: every commit's object bytes replay as-of
    for csn, state in history:
        for o in (0, 1):
            got = store.read_snapshot(o, csn)
            assert (got or b"") == (state.get(o) or b""), f"as-of {csn} obj {o}"


# Three-way branch merge vs an exact model: fork a clone, drive random
# committed scripts on BOTH sides, then merge_from under each on_conflict
# mode. The model computes write-tracked change sets (same definition as
# op_write_set: keys WRITTEN since the fork, whether or not the value
# ended up different), adjudicates conflicts, and predicts both the
# final table state and merge_from's {applied, deleted, conflicts} counts.
side_script = st.lists(
    st.lists(op, min_size=1, max_size=2), min_size=0, max_size=2
)  # committed txns only; rollback interleavings are covered above


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    ours=side_script,
    theirs=side_script,
    mode=st.sampled_from(["error", "ours", "theirs"]),
)
def test_merge_from_equals_three_way_model(
    spark, tmp_path_factory, ours, theirs, mode
):
    import pytest

    from db_core_spark.plans.versioned import ConflictError

    path = tmp_path_factory.mktemp("vt_3way")
    src = VersionedTable.create(spark, str(path / "src"), key_cols=["k"], schema=SCHEMA)
    t = src.begin()
    t.upsert(spark.createDataFrame([(k, f"base{k}") for k in range(3)], SCHEMA))
    t.commit()
    base = {k: f"base{k}" for k in range(3)}

    br = src.clone(str(path / "br"))

    def run(table, script, state):
        written: set[int] = set()
        # branch txns may upsert+delete one key in a single txn — the
        # within-csn ordering merge_from must respect (opseq regression)
        for txn_ops in script:
            t = table.begin()
            for o in txn_ops:
                if o[0] == "upsert":
                    _, k, v = o
                    t.upsert(spark.createDataFrame([(k, v)], SCHEMA))
                    state[k] = v
                else:
                    _, k = o
                    t.delete_keys([(k,)])
                    state.pop(k, None)
                written.add(o[1])
            t.commit()
        return written

    ours_state, theirs_state = dict(base), dict(base)
    ours_written = run(src, ours, ours_state)
    theirs_written = run(br, theirs, theirs_state)
    conflicts = ours_written & theirs_written

    if mode == "error" and conflicts:
        with pytest.raises(ConflictError):
            src.merge_from(br, on_conflict=mode)
        got = {r.k: r.v for r in src.snapshot().collect()}
        assert got == ours_state  # failed merge left the target untouched
        return

    apply_keys = theirs_written if mode == "theirs" else theirs_written - ours_written
    expected = dict(ours_state)
    applied = deleted = 0
    for k in apply_keys:
        if k in theirs_state:
            expected[k] = theirs_state[k]
            applied += 1
        else:
            expected.pop(k, None)
            deleted += 1

    res = src.merge_from(br, on_conflict=mode)
    assert res == {
        "applied": applied, "deleted": deleted, "conflicts": len(conflicts)
    }
    got = {r.k: r.v for r in src.snapshot().collect()}
    assert got == expected


# Multi-table group transactions vs per-table dict models: random scripts
# of group txns (each touching any subset of two tables, committed or
# rolled back) must leave every table equal to its model, per-table as-of
# reads equal to history, and every snapshot_pin a consistent cut (all
# tables at their model state as of the SAME group boundary).
group_step = st.tuples(
    st.lists(  # per-table op lists; empty list = table untouched this txn
        st.tuples(st.sampled_from(["a", "b"]), op), min_size=1, max_size=3
    ),
    st.booleans(),  # commit?
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(group_step, min_size=1, max_size=3))
def test_group_txns_equal_models_and_pins_are_consistent(
    spark, tmp_path_factory, script
):
    from db_core_spark.plans import Database

    path = tmp_path_factory.mktemp("db_prop")
    db = Database.create(spark, str(path / "db"))
    for n in ("a", "b"):
        db.create_table(n, key_cols=["k"], schema=SCHEMA)

    model = {"a": {}, "b": {}}
    history = []  # (csns-after-commit, deep model state)

    for table_ops, do_commit in script:
        g = db.begin()
        staged = {n: dict(model[n]) for n in model}
        for name, o in table_ops:
            if o[0] == "upsert":
                _, k, v = o
                g.upsert(name, spark.createDataFrame([(k, v)], SCHEMA))
                staged[name][k] = v
            else:
                _, k = o
                g.delete_keys(name, [(k,)])
                staged[name].pop(k, None)
        if do_commit:
            csns = g.commit()
            model = staged
            history.append(
                (dict(csns), {n: dict(model[n]) for n in model})
            )
        else:
            g.rollback()

        for n in ("a", "b"):
            got = {r.k: r.v for r in db.table(n).snapshot().collect()}
            assert got == model[n], f"table {n} diverged after {table_ops!r}"

    # historical cut: each commit's returned csns replay that group's state
    for csns, state in history:
        for n in ("a", "b"):
            at = csns.get(n)
            got = {
                r.k: r.v
                for r in db.table(n).snapshot(as_of_csn=at).collect()
            } if at is not None else {
                r.k: r.v for r in db.table(n).snapshot().collect()
            }
            if at is not None:
                assert got == state[n], f"as-of {n}@{at} diverged"

    # a pin taken now must be the final state on every table
    pins = db.snapshot_pin()
    for n in ("a", "b"):
        got = {
            r.k: r.v for r in db.table(n).snapshot(as_of_csn=pins[n]).collect()
        }
        assert got == model[n], f"pin cut diverged on {n}"


# Read-your-own-writes under savepoints: ONE open transaction takes
# random upsert/delete steps interleaved with savepoint marks and
# partial rollbacks; after every step the txn's read() must equal a model
# that replays the surviving buffered ops over the committed base, and
# the final commit must publish exactly the surviving state.
sp_step = st.one_of(
    op,
    st.just("save"),
    st.tuples(st.just("rollback"), st.integers(0, 5)),  # index into saved marks
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(sp_step, min_size=1, max_size=5))
def test_savepoint_read_your_own_writes_equals_model(
    spark, tmp_path_factory, script
):
    path = tmp_path_factory.mktemp("vt_sp")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(0, "base0"), (1, "base1")], SCHEMA))
    t0.commit()
    base = {0: "base0", 1: "base1"}

    t = vt.begin()
    buffered: list = []  # surviving buffered ops, mirrors t._ops
    marks: list[tuple[int, int]] = []  # (spark savepoint, model mark)

    def replay():
        state = dict(base)
        for o in buffered:
            if o[0] == "upsert":
                state[o[1]] = o[2]
            else:
                state.pop(o[1], None)
        return state

    for step in script:
        if step == "save":
            marks.append((t.savepoint(), len(buffered)))
        elif step[0] == "rollback":
            if marks:
                sp, mark = marks[step[1] % len(marks)]
                t.rollback_to(sp)
                del buffered[mark:]
                # marks past the rollback point are now invalid; drop them
                marks = [(s, m) for s, m in marks if s <= sp]
        elif step[0] == "upsert":
            _, k, v = step
            t.upsert(spark.createDataFrame([(k, v)], SCHEMA))
            buffered.append(step)
        else:
            _, k = step
            t.delete_keys([(k,)])
            buffered.append(step)
        got = {r.k: r.v for r in t.read().collect()}
        assert got == replay(), f"read-your-own-writes diverged after {step!r}"

    t.commit()
    assert {r.k: r.v for r in vt.snapshot().collect()} == replay()


# CDC offset contract: for ANY split of the csn range into consecutive
# micro-batch windows, the union of the stream reader's
# partitions(start, end) -> read() rows must equal the batch feed over
# the whole range — no gaps, no overlaps, regardless of where epoch
# boundaries land. This is the property exactly-once replay rests on.
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    script=script,
    cuts=st.lists(st.integers(0, 10), min_size=0, max_size=3),
)
def test_cdc_windows_tile_the_ledger(spark, tmp_path_factory, script, cuts):
    from db_core_spark.sources.versioned_datasource import (
        VersionedChangeStreamReader,
    )

    path = tmp_path_factory.mktemp("vt_tile")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    for ops, do_commit in script:
        t = vt.begin()
        for o in ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
            else:
                t.delete_keys([(o[1],)])
        (t.commit if do_commit else t.rollback)()

    head = vt.latest_csn()
    reader = VersionedChangeStreamReader(
        T.StructType([]), {"path": vt.path, "includeopseq": "true"}
    )

    def rows(lo, hi):
        parts = reader.partitions({"csn": lo}, {"csn": hi})
        return sorted(change_rows(reader, parts), key=str)

    bounds = sorted({0, head, *[min(c, head) for c in cuts]})
    tiled = []
    for lo, hi in zip(bounds, bounds[1:]):
        tiled.extend(rows(lo, hi))
    assert sorted(tiled, key=str) == rows(0, head)


# restore(as_of) is itself a COMMIT: after restoring to any historical
# commit point, the latest snapshot equals that point's model state, all
# older as-of reads are untouched (history is preserved, not rewritten),
# and the restore commit is itself time-travelable.
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    script=st.lists(st.lists(op, min_size=1, max_size=2), min_size=2, max_size=4),
    pick=st.integers(0, 100),
)
def test_restore_replays_history_without_rewriting_it(
    spark, tmp_path_factory, script, pick
):
    path = tmp_path_factory.mktemp("vt_restore")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []
    for txn_ops in script:
        t = vt.begin()
        for o in txn_ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                model[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                model.pop(o[1], None)
        history.append((t.commit(), dict(model)))

    target_csn, target_state = history[pick % len(history)]
    restore_csn = vt.restore(target_csn)

    assert {r.k: r.v for r in vt.snapshot().collect()} == target_state
    # history preserved: every pre-restore commit still replays, and the
    # restore commit itself is addressable
    for csn, state in history:
        got = {r.k: r.v for r in vt.snapshot(as_of_csn=csn).collect()}
        assert got == state, f"pre-restore as-of {csn} rewritten"
    got = {r.k: r.v for r in vt.snapshot(as_of_csn=restore_csn).collect()}
    assert got == target_state


# Schema evolution: alter_add_column mid-history. The LATEST schema
# governs every read including time travel — rows committed under the
# narrow schema come back null-padded in the new column, at head AND
# under as-of reads before the alter.
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    before=st.lists(st.lists(op, min_size=1, max_size=2), min_size=1, max_size=2),
    after=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 4),
                st.text("abc", min_size=1, max_size=2),
                st.integers(-5, 5),
            ),
            min_size=1,
            max_size=2,
        ),
        min_size=1,
        max_size=2,
    ),
)
def test_alter_add_column_history_null_padded(
    spark, tmp_path_factory, before, after
):
    path = tmp_path_factory.mktemp("vt_evolve")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, tuple] = {}  # k -> (v, w)
    history: list[tuple[int, dict]] = []
    for txn_ops in before:
        t = vt.begin()
        for o in txn_ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                model[o[1]] = (o[2], None)
            else:
                t.delete_keys([(o[1],)])
                model.pop(o[1], None)
        history.append((t.commit(), dict(model)))

    vt.alter_add_column("w", T.LongType())
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("w", T.LongType())])
    for txn_rows in after:
        t = vt.begin()
        for k, v, w in txn_rows:
            t.upsert(spark.createDataFrame([(k, v, w)], wide))
            model[k] = (v, w)
        history.append((t.commit(), dict(model)))

    def as_dict(df):
        return {r.k: (r.v, r.w) for r in df.collect()}

    assert as_dict(vt.snapshot()) == model
    for csn, state in history:
        assert as_dict(vt.snapshot(as_of_csn=csn)) == state, f"as-of {csn}"


# Live layout migration: random txn scripts interleaved with rebucket()
# (bucket-count changes) and checkpoints. Readers must stay correct
# THROUGHOUT the mixed-layout window — ops written under an old bucket
# count resolve via their manifests' own recorded layout. After every
# step: snapshot == model, the Python DataSource's full read == model,
# a keyEquals point lookup (single-bucket partition pruning under the
# CURRENT layout) == the model's row, and every historical as-of read
# still replays.
rb_step = st.one_of(
    st.lists(op, min_size=1, max_size=2),  # one committed txn
    st.tuples(st.just("rebucket"), st.sampled_from([1, 2, 4])),
    st.just("checkpoint"),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(rb_step, min_size=2, max_size=5), probe=st.integers(0, 4))
# a file-less checkpoint read whole after a rebucket, under a key filter
@example(script=[[("delete", 0)], "checkpoint", ("rebucket", 1)], probe=0)
def test_rebucket_mixed_layouts_stay_readable(
    spark, tmp_path_factory, script, probe
):
    import json as _json

    from db_core_spark.config import EngineConfig
    from db_core_spark.sources import register_versioned_format

    register_versioned_format(spark)
    path = tmp_path_factory.mktemp("vt_rb")
    vt = VersionedTable.create(
        spark,
        str(path / "tbl"),
        key_cols=["k"],
        schema=SCHEMA,
        config=EngineConfig(num_buckets=2),
    )

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []
    for step in script:
        if step == "checkpoint":
            vt.checkpoint()
        elif isinstance(step, tuple) and step[0] == "rebucket":
            vt.rebucket(step[1])
        else:
            t = vt.begin()
            for o in step:
                if o[0] == "upsert":
                    t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                    model[o[1]] = o[2]
                else:
                    t.delete_keys([(o[1],)])
                    model.pop(o[1], None)
            history.append((t.commit(), dict(model)))

        assert {r.k: r.v for r in vt.snapshot().collect()} == model, f"after {step!r}"
        ds = (
            spark.read.format("versioned")
            .option("path", vt.path)
            .load()
        )
        assert {r.k: r.v for r in ds.collect()} == model, f"ds after {step!r}"
        lookup = (
            spark.read.format("versioned")
            .option("path", vt.path)
            .option("keyEquals", _json.dumps({"k": probe}))
            .load()
        )
        got = [(r.k, r.v) for r in lookup.collect()]
        want = [(probe, model[probe])] if probe in model else []
        assert got == want, f"point lookup after {step!r}"
    for csn, state in history:
        assert {
            r.k: r.v for r in vt.snapshot(as_of_csn=csn).collect()
        } == state, f"as-of {csn}"


# CDC retraction algebra (the incremental-MV backbone): with before-image
# capture on, folding the change feed with signs — post-image rows add,
# update_preimage/delete rows subtract — must reproduce ANY additive
# aggregate of the snapshot at every commit boundary, without key state.
# Exercises the subtle part: preimages fold through EARLIER ops of the
# SAME txn (upsert-then-upsert retracts the intermediate, upsert-then-
# delete nets to zero), which the generated scripts hit by construction.
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=script)
# a delete of a key that never existed: no pre-state row, no change row
@example(script=[([("delete", 0)], True)])
def test_preimage_retraction_fold_equals_snapshot_aggregates(
    spark, tmp_path_factory, script
):
    from db_core_spark.config import EngineConfig

    path = tmp_path_factory.mktemp("vt_pre")
    vt = VersionedTable.create(
        spark,
        str(path / "tbl"),
        key_cols=["k"],
        schema=SCHEMA,
        config=EngineConfig(cdc_preimages=True, num_buckets=2),
    )

    model: dict[int, str] = {}
    commits: list[tuple[int, int, int]] = []  # (csn, n_keys, total_len)
    for ops, do_commit in script:
        t = vt.begin()
        staged = dict(model)
        for o in ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                staged[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                staged.pop(o[1], None)
        if do_commit:
            csn = t.commit()
            model = staged
            commits.append(
                (csn, len(model), sum(len(v) for v in model.values()))
            )
        else:
            t.rollback()

    rows = [
        (r.k, r.v, r._csn, r._change) for r in vt.changes(from_csn=0).collect()
    ]
    for csn, n_keys, total_len in commits:
        n = tl = 0
        for k, v, c, ch in rows:
            if c > csn:
                continue
            sign = 1 if ch == "upsert" else -1  # update_preimage/delete subtract
            n += sign
            tl += sign * len(v or "")
        assert (n, tl) == (n_keys, total_len), f"retraction fold at csn {csn}"


# REAL reclaim (vacuum retain_seconds=0, unlike the no-op-retention
# variant above): after any interleaving of txns, checkpoints, and
# zero-retention vacuums, the LATEST snapshot always equals the model,
# and every historical as-of read either replays exactly or raises the
# typed SnapshotUnavailableError — never a silently wrong answer. Loud
# unavailability is only permitted for history below the latest
# checkpoint (that is all vacuum may reclaim).
reclaim_step = st.one_of(
    st.lists(op, min_size=1, max_size=2),
    st.just("checkpoint"),
    st.just("vacuum0"),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(reclaim_step, min_size=2, max_size=5))
def test_real_vacuum_is_correct_or_loud_never_wrong(
    spark, tmp_path_factory, script
):
    from db_core_spark.plans import SnapshotUnavailableError

    path = tmp_path_factory.mktemp("vt_reclaim")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []
    ck_csn = 0
    for step in script:
        if step == "checkpoint":
            ck_csn = max(ck_csn, vt.checkpoint())
        elif step == "vacuum0":
            vt.vacuum(retain_seconds=0)
        else:
            t = vt.begin()
            for o in step:
                if o[0] == "upsert":
                    t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                    model[o[1]] = o[2]
                else:
                    t.delete_keys([(o[1],)])
                    model.pop(o[1], None)
            history.append((t.commit(), dict(model)))

        assert {r.k: r.v for r in vt.snapshot().collect()} == model, f"after {step!r}"
        for csn, state in history:
            try:
                got = {r.k: r.v for r in vt.snapshot(as_of_csn=csn).collect()}
            except SnapshotUnavailableError:
                assert csn < ck_csn, (
                    f"as-of {csn} unavailable but never checkpoint-covered "
                    f"(ck at {ck_csn}) after {step!r}"
                )
                continue
            assert got == state, f"as-of {csn} WRONG after {step!r}"


# Endpoint diff algebra: for ANY two commit points a <= b, applying
# diff(a, b) to the model state at a (inserts/updates set new values,
# deletes drop keys) must reproduce the model state at b exactly, and
# every emitted old_/new_ pair must match the models — the diff shows
# each key once regardless of how many times it churned in between.
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    script=st.lists(st.lists(op, min_size=1, max_size=3), min_size=2, max_size=4),
    ia=st.integers(0, 100),
    ib=st.integers(0, 100),
)
def test_diff_applied_to_a_reproduces_b(spark, tmp_path_factory, script, ia, ib):
    path = tmp_path_factory.mktemp("vt_diff")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = [(0, {})]
    for txn_ops in script:
        t = vt.begin()
        for o in txn_ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                model[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                model.pop(o[1], None)
        history.append((t.commit(), dict(model)))

    i, j = sorted((ia % len(history), ib % len(history)))
    (csn_a, state_a), (csn_b, state_b) = history[i], history[j]

    rows = [
        (r.k, r._change, r.old_v, r.new_v)
        for r in vt.diff(csn_a, csn_b).collect()
    ]
    applied = dict(state_a)
    for k, change, old_v, new_v in rows:
        if change == "insert":
            assert k not in state_a and old_v is None
            applied[k] = new_v
        elif change == "update":
            assert state_a[k] == old_v
            applied[k] = new_v
        else:
            assert change == "delete" and state_a[k] == old_v and new_v is None
            applied.pop(k)
    assert applied == state_b, f"diff({csn_a},{csn_b}) does not transport a->b"
    # minimality: no no-op rows
    for k, change, old_v, new_v in rows:
        assert old_v != new_v or change != "update"


# Row-level TTL: expire_rows(condition) must tombstone exactly the model
# rows the predicate selects — count, final state, and time travel (the
# expiry is one commit; as-of BEFORE it still sees every expired row).
EXPIRE_CONDS = [
    ("k >= 3", lambda k, v: k >= 3),
    ("v LIKE 'a%'", lambda k, v: v.startswith("a")),
    ("k % 2 = 0", lambda k, v: k % 2 == 0),
]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    script=st.lists(st.lists(op, min_size=1, max_size=3), min_size=1, max_size=3),
    cond_i=st.integers(0, len(EXPIRE_CONDS) - 1),
)
def test_expire_rows_equals_model_filter(spark, tmp_path_factory, script, cond_i):
    path = tmp_path_factory.mktemp("vt_ttl")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    last_csn = 0
    for txn_ops in script:
        t = vt.begin()
        for o in txn_ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                model[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                model.pop(o[1], None)
        last_csn = t.commit()

    sql, pred = EXPIRE_CONDS[cond_i]
    doomed = {k for k, v in model.items() if pred(k, v)}
    assert vt.expire_rows(sql) == len(doomed)
    survivors = {k: v for k, v in model.items() if k not in doomed}
    assert {r.k: r.v for r in vt.snapshot().collect()} == survivors
    # the expiry is itself versioned: pre-expiry time travel sees everything
    assert {
        r.k: r.v for r in vt.snapshot(as_of_csn=last_csn).collect()
    } == model
    # idempotent: nothing left matching
    assert vt.expire_rows(sql) == 0


# ---------------------------------------------------------------------------
# Crash-injection property: a writer that dies at ANY protocol fault point —
# after staging files but before claiming a csn, or when the manifest publish
# itself fails — must be observationally invisible forever: the snapshot still
# equals the model, every historical as-of read replays, the next commit
# claims the next contiguous csn, and a later vacuum sweeps the dead files
# without touching live state. This generalizes the reference's WAL
# restart/torn-tail recovery tests (/root/reference/src/system/instance.rs:221-304,
# src/log_mgr/io.rs:354-387) from hand-picked crash points to generated
# interleavings of crashes, commits, reopens, checkpoints, and sweeps.
crash_action = st.one_of(
    st.tuples(st.just("txn"), st.lists(op, min_size=1, max_size=3), st.booleans()),
    st.tuples(st.just("crash_staged"), st.lists(op, min_size=1, max_size=2)),
    st.tuples(st.just("crash_publish"), st.lists(op, min_size=1, max_size=2)),
    # two same-snapshot writers racing on a shared key: the loser must
    # raise ConflictError, leak nothing, and land via run_transaction
    st.tuples(
        st.just("conflict_retry"),
        st.integers(0, 4),
        st.lists(op, min_size=0, max_size=2),
    ),
    st.just("torn"),
    st.just("reopen"),
    st.just("checkpoint"),
    st.just("sweep"),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(crash_action, min_size=3, max_size=6))
def test_crash_points_never_corrupt_or_leak(spark, tmp_path_factory, script):
    import os as _os

    path = tmp_path_factory.mktemp("vt_crash")
    tbl_path = str(path / "tbl")
    vt = VersionedTable.create(spark, tbl_path, key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []
    # tsn= dirs legitimately on disk without a manifest: writers that DIED
    # after staging (crash_staged). Everything else unreferenced is a leak.
    expected_orphans: set[str] = set()

    def as_dict(df):
        return {r.k: r.v for r in df.collect()}

    def apply_ops(t, staged, ops):
        for o in ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                staged[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                staged.pop(o[1], None)

    for step in script:
        if step == "torn":
            # crashed mid-write manifest tmp + junk file: readers must skip both
            log_dir = vt._log_dir
            with open(_os.path.join(log_dir, "_tmp-injected.json"), "w") as f:
                f.write('{"csn": 99, "ops": [{"di')  # torn JSON
            with open(_os.path.join(log_dir, "notacsn.json"), "w") as f:
                f.write("junk")
        elif step == "reopen":
            # process restart: only published manifests define state
            vt = VersionedTable.open(spark, tbl_path)
        elif step == "checkpoint":
            vt.checkpoint()
        elif step == "sweep":
            # age out everything, then vacuum with the default retention:
            # orphaned (never-claimed) op dirs are reclaimed by mtime age,
            # referenced dirs survive regardless of age
            for base, _dirs, files in _os.walk(vt._data_dir):
                for f in files:
                    try:
                        _os.utime(_os.path.join(base, f), (0, 0))
                    except OSError:
                        pass
                try:
                    _os.utime(base, (0, 0))
                except OSError:
                    pass
            vt.vacuum()
            expected_orphans.clear()  # aged-out abandoned staging reclaimed
        elif step[0] == "txn":
            _, ops, do_commit = step
            t = vt.begin()
            staged = dict(model)
            apply_ops(t, staged, ops)
            if do_commit:
                csn = t.commit()
                model = staged
                history.append((csn, dict(model)))
            else:
                t.rollback()
        elif step[0] == "crash_staged":
            # phase-1 complete, writer dies before claiming a csn: files on
            # disk under tsn=<tsn>/, no manifest -> invisible forever
            t = vt.begin()
            apply_ops(t, dict(model), step[1])
            t._stage()
            t._done = True  # abandon without rollback (simulated process death)
            expected_orphans.add(f"tsn={t.tsn}")
        elif step[0] == "crash_publish":
            # phase-2 publish I/O fails (manifest link never created); a
            # failed IN-PROCESS commit also discards its staging (r7), so
            # this step must not add to expected_orphans
            t = vt.begin()
            apply_ops(t, dict(model), step[1])
            original = vt._publish

            def _boom(name, manifest):
                raise OSError("injected crash during manifest publish")

            vt._publish = _boom
            try:
                with pytest.raises(OSError, match="injected crash"):
                    t.commit()
            finally:
                vt._publish = original
        elif step[0] == "conflict_retry":
            # two writers pinned at the SAME snapshot race on shared key k:
            # the loser's commit raises ConflictError, leaks no staging, and
            # its ops land via run_transaction's fresh-snapshot retry
            from db_core_spark.plans import ConflictError

            _, k, extra_ops = step
            tw, tl = vt.begin(), vt.begin()
            staged_w = dict(model)
            apply_ops(tw, staged_w, [("upsert", k, "win")])
            apply_ops(tl, dict(model), [("upsert", k, "lose"), *extra_ops])
            csn = tw.commit()
            model = staged_w
            history.append((csn, dict(model)))
            with pytest.raises(ConflictError):
                tl.commit()

            holder: dict[int, str] = {}

            def build(txn, _ops=[("upsert", k, "lose"), *extra_ops], _h=holder):
                fresh = dict(model)
                apply_ops(txn, fresh, _ops)
                _h.clear()
                _h.update(fresh)

            csn2 = vt.run_transaction(build, backoff_ms=0)
            model = dict(holder)
            history.append((csn2, dict(model)))
        # invariants after EVERY step: table == model, and no unreferenced
        # staging on disk beyond the deliberately-abandoned crash_staged
        # writers (which vacuum reclaims at the next sweep)
        assert as_dict(vt.snapshot()) == model, f"diverged after {step!r}"
        on_disk = {
            d for d in _os.listdir(vt._data_dir)
            if d.startswith("tsn=") and _os.path.isdir(_os.path.join(vt._data_dir, d))
        }
        referenced = {"tsn=" + m["tsn"] for m in vt._manifests() if m.get("tsn")}
        leaked = on_disk - referenced - expected_orphans
        assert not leaked, f"leaked staging {leaked} after {step!r}"

    # every surviving historical commit point still replays exactly
    for csn, state in history:
        assert as_dict(vt.snapshot(as_of_csn=csn)) == state, f"as-of {csn} diverged"
    # the log is still contiguous: one more normal commit claims the next csn
    t = vt.begin()
    t.upsert(spark.createDataFrame([(0, "zz")], SCHEMA))
    final_csn = t.commit()
    model[0] = "zz"
    assert final_csn == vt.latest_csn()
    assert as_dict(vt.snapshot()) == model


# ---------------------------------------------------------------------------
# Concurrent-writer conflict exactness: N transactions all begun at the SAME
# snapshot commit in sequence; each must raise ConflictError IFF its write-set
# overlaps a transaction that committed after its start (no lost updates — and
# no spurious aborts for disjoint writers, the availability half the
# hand-written lost-update test can't pin). A conflicted writer retries from a
# fresh snapshot and must then succeed, yielding the serial order of the
# commit sequence. Optimistic replacement for the reference's pessimistic
# object locks (/root/reference/src/tran_mgr/tran_mgr.rs:108-127 wait_for):
# same isolation outcome, conflict-time instead of lock-wait.
conc_txn = st.lists(op, min_size=1, max_size=3)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(txns=st.lists(conc_txn, min_size=2, max_size=4))
def test_concurrent_writers_conflict_exactly_on_overlap(
    spark, tmp_path_factory, txns
):
    from db_core_spark.plans import ConflictError

    path = tmp_path_factory.mktemp("vt_conc")
    vt = VersionedTable.create(spark, str(path / "tbl"), key_cols=["k"], schema=SCHEMA)

    # seed so deletes have something to tombstone and start_csn > 0
    t0 = vt.begin()
    t0.upsert(spark.createDataFrame([(i, "seed") for i in range(5)], SCHEMA))
    t0.commit()
    model: dict[int, str] = {i: "seed" for i in range(5)}

    def apply_ops(t, staged, ops):
        for o in ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                staged[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                staged.pop(o[1], None)

    # all writers open BEFORE any commits: identical start snapshot
    handles = [vt.begin() for _ in txns]
    staged_states = []
    for t, ops in zip(handles, txns):
        staged = dict(model)
        apply_ops(t, staged, ops)
        staged_states.append(staged)

    committed_keys: set[int] = set()
    for t, ops, staged in zip(handles, txns, staged_states):
        my_keys = {o[1] for o in ops}
        if my_keys & committed_keys:
            # must conflict: an earlier writer touched one of our keys
            with pytest.raises(ConflictError):
                t.commit()
            # retry from a fresh snapshot: same ops, must now succeed
            rt = vt.begin()
            retry_staged = dict(model)
            apply_ops(rt, retry_staged, ops)
            rt.commit()
            model = retry_staged
        else:
            # disjoint writers must NOT be spuriously aborted
            t.commit()
            # serial application onto the running model (disjoint keys, so
            # this equals the staged view for those keys)
            for o in ops:
                if o[0] == "upsert":
                    model[o[1]] = o[2]
                else:
                    model.pop(o[1], None)
        committed_keys |= my_keys
        assert {r.k: r.v for r in vt.snapshot().collect()} == model


# ---------------------------------------------------------------------------
# Exactly-once sink property: random micro-batch delivery sequences — new
# epochs, replays of already-committed epochs (crash between sink commit and
# checkpoint advance), restarts (epoch cache lost + table handle reopened),
# and interleaved foreign writers — must leave the table equal to applying
# each distinct epoch EXACTLY once in epoch order, and must publish exactly
# one manifest per distinct epoch. Epoch payloads deliberately overwrite a
# shared key so a wrongly re-committed replay REGRESSES a visible value
# instead of hiding as an idempotent overwrite. This generalizes the
# deterministic replay tests in test_streaming.py to generated schedules
# (the advisor's r4 exactly-once data-loss finding lived exactly here).
sink_step = st.tuples(
    st.sampled_from(["next", "replay", "restart", "foreign"]),
    st.integers(0, 10),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(steps=st.lists(sink_step, min_size=3, max_size=8))
def test_stream_sink_is_exactly_once_under_replay_and_restart(
    spark, tmp_path_factory, steps
):
    from db_core_spark.streaming.ops import commit_microbatch

    path = tmp_path_factory.mktemp("vt_eo")
    tbl_path = str(path / "tbl")
    vt = VersionedTable.create(spark, tbl_path, key_cols=["k"], schema=SCHEMA)

    W = "writer-A"
    cache: dict = {}
    committed: list[int] = []  # distinct epochs published, in order
    model: dict[int, str] = {}
    foreign_i = 0

    def payload(epoch: int):
        # key 0 is contested across epochs; key 100+epoch is unique
        return [(0, f"e{epoch}"), (100 + epoch, f"x{epoch}")]

    def apply_to_model(epoch: int):
        for k, v in payload(epoch):
            model[k] = v

    for kind, pick in steps:
        if kind == "restart":
            # process death: cache gone, fresh handle; durable state intact
            cache = {}
            vt = VersionedTable.open(spark, tbl_path)
            continue
        if kind == "foreign":
            # unrelated writer commits between epochs (disjoint keys)
            t = vt.begin()
            t.upsert(spark.createDataFrame([(50 + foreign_i, "f")], SCHEMA))
            t.commit()
            model[50 + foreign_i] = "f"
            foreign_i += 1
            continue
        if kind == "replay":
            if not committed:
                continue
            epoch = committed[pick % len(committed)]
            df = spark.createDataFrame(payload(epoch), SCHEMA)
            assert commit_microbatch(vt, df, epoch_id=epoch, writer_id=W, cache=cache) is False, (
                f"replayed epoch {epoch} was re-published"
            )
        else:  # next
            epoch = (committed[-1] + 1) if committed else 0
            df = spark.createDataFrame(payload(epoch), SCHEMA)
            assert commit_microbatch(vt, df, epoch_id=epoch, writer_id=W, cache=cache) is True, (
                f"new epoch {epoch} was wrongly skipped"
            )
            committed.append(epoch)
            apply_to_model(epoch)
        # the table equals exactly-once application after every delivery
        assert {r.k: r.v for r in vt.snapshot().collect()} == model

    # exactly one manifest per distinct epoch for this writer
    published = [
        m["epoch"] for m in vt._manifests() if m.get("writer") == W
    ]
    assert sorted(published) == committed, (
        f"manifest multiplicity wrong: {sorted(published)} vs {committed}"
    )


# ---------------------------------------------------------------------------
# Group-transaction crash property: a coordinator dying at ANY point of the
# multi-table protocol — after all per-table claims but before the marker
# (undecided group), or mid-claim with the abort-marker write ALSO failing
# (no decision at all) — must never tear atomicity: after the grace window a
# reader force-aborts the group and BOTH tables read as if it never ran; a
# subsequent healthy group commit succeeds and is visible on both tables
# atomically. Generalizes test_group_txn.py's hand-picked crash cases to
# generated schedules (reference: one WAL commit record spans all objects,
# /root/reference/src/system/instance.rs:102-111; reader timeout analog of
# tran_mgr.rs:108-127).
group_step = st.one_of(
    st.tuples(st.just("group"), st.lists(op, min_size=1, max_size=2),
              st.lists(op, min_size=1, max_size=2)),
    st.tuples(st.just("single"), st.sampled_from(["a", "b"]),
              st.lists(op, min_size=1, max_size=2)),
    st.tuples(st.just("crash_marker"), st.lists(op, min_size=1, max_size=2),
              st.lists(op, min_size=1, max_size=2)),
    st.tuples(st.just("crash_mid_claim"), st.lists(op, min_size=1, max_size=2),
              st.lists(op, min_size=1, max_size=2)),
    st.just("gvac"),  # aggressive marker reclamation between steps
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(steps=st.lists(group_step, min_size=2, max_size=5))
def test_group_crash_points_never_tear_atomicity(spark, tmp_path_factory, steps):
    import db_core_spark.plans.group as group_mod
    from db_core_spark.config import EngineConfig
    from db_core_spark.plans import Database

    fast = EngineConfig(group_pending_grace_seconds=0.2)
    path = tmp_path_factory.mktemp("db_crash")
    db = Database.create(spark, str(path / "db"), config=fast)
    db.create_table("a", key_cols=["k"], schema=SCHEMA)
    db.create_table("b", key_cols=["k"], schema=SCHEMA)

    models = {"a": {}, "b": {}}

    def apply_ops(stage_fn, model, ops):
        for o in ops:
            if o[0] == "upsert":
                stage_fn("upsert", o[1], o[2])
                model[o[1]] = o[2]
            else:
                stage_fn("delete", o[1], None)
                model.pop(o[1], None)

    def as_dict(name):
        return {r.k: r.v for r in db.table(name).snapshot().collect()}

    real_publish = group_mod.publish_manifest

    for step in steps:
        kind = step if isinstance(step, str) else step[0]
        if kind == "gvac":
            # retain 0: only the live-manifest reference guard protects
            # markers — a committed group's marker must survive (deleting it
            # would flip the group back to pending and force-abort committed
            # data), and reclamation must never change what either table reads
            db.vacuum_groups(retain_seconds=0.0)
        elif kind == "single":
            _, name, ops = step
            t = db.table(name).begin()
            apply_ops(
                lambda k, key, v, _t=t: _t.upsert(
                    spark.createDataFrame([(key, v)], SCHEMA)
                ) if k == "upsert" else _t.delete_keys([(key,)]),
                models[name], ops,
            )
            t.commit()
        elif kind == "group":
            _, ops_a, ops_b = step
            g = db.begin()
            apply_ops(
                lambda k, key, v: g.upsert("a", spark.createDataFrame([(key, v)], SCHEMA))
                if k == "upsert" else g.delete_keys("a", [(key,)]),
                models["a"], ops_a,
            )
            apply_ops(
                lambda k, key, v: g.upsert("b", spark.createDataFrame([(key, v)], SCHEMA))
                if k == "upsert" else g.delete_keys("b", [(key,)]),
                models["b"], ops_b,
            )
            g.commit()
        else:
            _, ops_a, ops_b = step
            g = db.begin()
            snap_a, snap_b = dict(models["a"]), dict(models["b"])
            apply_ops(
                lambda k, key, v: g.upsert("a", spark.createDataFrame([(key, v)], SCHEMA))
                if k == "upsert" else g.delete_keys("a", [(key,)]),
                models["a"], ops_a,
            )
            apply_ops(
                lambda k, key, v: g.upsert("b", spark.createDataFrame([(key, v)], SCHEMA))
                if k == "upsert" else g.delete_keys("b", [(key,)]),
                models["b"], ops_b,
            )
            models["a"], models["b"] = snap_a, snap_b  # crash: nothing applies

            def _boom(*a, **kw):
                raise OSError("injected coordinator death")

            if kind == "crash_marker":
                # all claims land; coordinator dies publishing the marker
                group_mod.publish_manifest = _boom
                try:
                    with pytest.raises(OSError, match="injected"):
                        g.commit()
                finally:
                    group_mod.publish_manifest = real_publish
            else:  # crash_mid_claim: table b's claim dies AND no marker lands
                tb = g.txn("b")
                orig_pub = tb.table._publish
                tb.table._publish = lambda n, m: _boom()
                group_mod.publish_manifest = _boom
                try:
                    with pytest.raises(OSError, match="injected"):
                        g.commit()
                finally:
                    tb.table._publish = orig_pub
                    group_mod.publish_manifest = real_publish
        # atomicity invariant after EVERY step: reads (which force-abort
        # undecided groups past the 0.2 s grace) equal the model on BOTH
        # tables — never a torn mix
        assert as_dict("a") == models["a"], f"table a diverged after {step!r}"
        assert as_dict("b") == models["b"], f"table b diverged after {step!r}"
        # leak invariant: every in-process failure path (dead marker write,
        # dead mid-claim) cleans its never-claimed staging, so no table ever
        # carries a tsn= dir no manifest references (r7: the abort handler
        # survives the abort-marker publish itself failing)
        import os as _os

        for name in ("a", "b"):
            t = db.table(name)
            on_disk = {
                d for d in _os.listdir(t._data_dir)
                if d.startswith("tsn=") and _os.path.isdir(_os.path.join(t._data_dir, d))
            }
            referenced = {"tsn=" + m["tsn"] for m in t._manifests() if m.get("tsn")}
            assert on_disk <= referenced, (
                f"table {name} leaked staging {on_disk - referenced} after {step!r}"
            )

    # a final healthy group commit lands atomically on both tables
    g = db.begin()
    g.upsert("a", spark.createDataFrame([(7, "fin")], SCHEMA))
    g.upsert("b", spark.createDataFrame([(7, "fin")], SCHEMA))
    g.commit()
    models["a"][7] = "fin"
    models["b"][7] = "fin"
    assert as_dict("a") == models["a"]
    assert as_dict("b") == models["b"]


# ---------------------------------------------------------------------------
# Connector-equivalence property: the Python DataSource (format('versioned'))
# and the plans-layer table API are two independent read paths over the same
# commit log (different fold code, different file listing, different
# checkpoint handling). For random transaction scripts with checkpoints
# dropped at random positions, both paths must agree at the LATEST state and
# at EVERY historical csn (asOfCsn option vs snapshot(as_of_csn)). Catches
# one-sided visibility bugs — a manifest the DataSource folds differently
# than the engine — that no single-path test can see.
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(st.one_of(txn, st.just("checkpoint")), min_size=2, max_size=4))
def test_datasource_and_engine_reads_agree_at_every_csn(
    spark, tmp_path_factory, script
):
    from db_core_spark.sources import register_versioned_format

    register_versioned_format(spark)
    path = tmp_path_factory.mktemp("vt_ds")
    tbl_path = str(path / "tbl")
    vt = VersionedTable.create(spark, tbl_path, key_cols=["k"], schema=SCHEMA)

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []

    for step in script:
        if step == "checkpoint":
            vt.checkpoint()
            continue
        ops, do_commit = step
        t = vt.begin()
        staged = dict(model)
        for o in ops:
            if o[0] == "upsert":
                t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                staged[o[1]] = o[2]
            else:
                t.delete_keys([(o[1],)])
                staged.pop(o[1], None)
        if do_commit:
            csn = t.commit()
            model = staged
            history.append((csn, dict(model)))
        else:
            t.rollback()

    def engine(as_of=None):
        return {r.k: r.v for r in vt.snapshot(as_of_csn=as_of).collect()}

    def connector(as_of=None):
        reader = spark.read.format("versioned").option("path", tbl_path)
        if as_of is not None:
            reader = reader.option("asOfCsn", str(as_of))
        return {r.k: r.v for r in reader.load().select("k", "v").collect()}

    assert connector() == engine() == model
    for csn, state in history:
        assert connector(csn) == engine(csn) == state, f"paths disagree at csn {csn}"


# ---------------------------------------------------------------------------
# Live-migration crash property: rebucket() is a two-step protocol (atomic
# _meta.json replace, then checkpoint under the new layout). A process dying
# between the steps, or mid-checkpoint-write (partial checkpoint dir, no
# manifest), must never change what any reader sees: mixed-layout tolerance
# means ops carry their own `buckets` field and the unreferenced partial
# checkpoint dir is invisible. Random scripts interleave commits, completed
# and crashed rebuckets, crashed checkpoint writes, reopens, and healthy
# checkpoints; snapshot == model after every step and all history replays.
rb_crash_step = st.one_of(
    txn,
    st.tuples(st.just("rebucket"), st.integers(1, 4)),
    st.tuples(st.just("rebucket_crash"), st.integers(1, 4)),
    st.just("ckpt_write_crash"),
    st.just("reopen"),
    st.just("checkpoint"),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(script=st.lists(rb_crash_step, min_size=3, max_size=6))
def test_rebucket_crash_points_are_invisible(spark, tmp_path_factory, script):
    import os as _os

    path = tmp_path_factory.mktemp("vt_rbcrash")
    tbl_path = str(path / "tbl")
    vt = VersionedTable.create(
        spark, tbl_path, key_cols=["k"], schema=SCHEMA, num_buckets=2
    )

    model: dict[int, str] = {}
    history: list[tuple[int, dict[int, str]]] = []

    def as_dict(df):
        return {r.k: r.v for r in df.collect()}

    for step in script:
        if step == "reopen":
            vt = VersionedTable.open(spark, tbl_path)
        elif step == "checkpoint":
            vt.checkpoint()
        elif step == "ckpt_write_crash":
            # checkpoint died mid-write: partial files in the would-be
            # checkpoint dir, no manifest -> unreferenced, invisible; a
            # later real checkpoint at this csn must overwrite it cleanly
            csn = vt.latest_csn()
            if csn > 0 and not any(
                is_ck and c == csn for c, is_ck, _ in vt._log_names()
            ):
                d = _os.path.join(vt._data_dir, f"checkpoint-{csn:010d}")
                _os.makedirs(d, exist_ok=True)
                with open(_os.path.join(d, "part-torn.parquet"), "wb") as f:
                    f.write(b"\x00not parquet")
        elif step[0] == "rebucket":
            vt.rebucket(step[1])
        elif step[0] == "rebucket_crash":
            # died between the meta replace and the checkpoint: new layout
            # is active for FUTURE writes, nothing else happened
            original = vt.checkpoint

            def _boom():
                raise OSError("injected crash before rebucket checkpoint")

            vt.checkpoint = _boom
            try:
                with pytest.raises(OSError, match="injected"):
                    vt.rebucket(step[1])
            finally:
                vt.checkpoint = original
        else:
            ops, do_commit = step
            t = vt.begin()
            staged = dict(model)
            for o in ops:
                if o[0] == "upsert":
                    t.upsert(spark.createDataFrame([(o[1], o[2])], SCHEMA))
                    staged[o[1]] = o[2]
                else:
                    t.delete_keys([(o[1],)])
                    staged.pop(o[1], None)
            if do_commit:
                csn = t.commit()
                model = staged
                history.append((csn, dict(model)))
            else:
                t.rollback()
        assert as_dict(vt.snapshot()) == model, f"diverged after {step!r}"

    for csn, state in history:
        assert as_dict(vt.snapshot(as_of_csn=csn)) == state, f"as-of {csn} diverged"
    # the table still takes writes under whatever layout survived
    t = vt.begin()
    t.upsert(spark.createDataFrame([(0, "zz")], SCHEMA))
    t.commit()
    model[0] = "zz"
    assert as_dict(vt.snapshot()) == model
