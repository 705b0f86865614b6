"""Python DataSource connector tests: format('versioned') batch snapshot /
time-travel reads, transactional append writes, and CDC streaming reads —
the Spark-native surface over the VersionedTable commit log.

Parity concerns mirrored (citations into /root/reference):
- snapshot + time travel    src/storage/block_driver.rs:457-486 (visibility)
- atomic group commit       src/system/instance.rs:102-111
- WAL tail (CDC)            src/log_mgr/io.rs:254-441
"""

from __future__ import annotations

import ast
import inspect
import textwrap
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F, types as T

from db_core_spark.plans import VersionedTable
from db_core_spark.sources import register_versioned_format
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
    register_versioned_format(spark)
    return VersionedTable.create(
        spark, str(tmp_path / "tbl"), key_cols=["k"], schema=SCHEMA
    )


def _commit(vt, spark, rows):
    t = vt.begin()
    t.upsert(spark.createDataFrame(rows, SCHEMA))
    return t.commit()


def rows_of(df):
    return {r.k: (r.v, r.amount) for r in df.collect()}


def test_snapshot_read_matches_table_api(vt, spark):
    _commit(vt, spark, [(1, "a", 1.0), (2, "b", 2.0)])
    _commit(vt, spark, [(2, "b2", 2.5), (3, "c", 3.0)])
    df = spark.read.format("versioned").option("path", vt.path).load()
    assert df.schema == SCHEMA
    assert rows_of(df) == rows_of(vt.snapshot())
    assert rows_of(df) == {1: ("a", 1.0), 2: ("b2", 2.5), 3: ("c", 3.0)}


def test_as_of_time_travel(vt, spark):
    c1 = _commit(vt, spark, [(1, "a", 1.0)])
    _commit(vt, spark, [(1, "a2", 9.9)])
    old = (
        spark.read.format("versioned")
        .option("path", vt.path)
        .option("asOfCsn", c1)
        .load()
    )
    assert rows_of(old) == {1: ("a", 1.0)}


def test_tombstones_hidden(vt, spark):
    _commit(vt, spark, [(1, "a", 1.0), (2, "b", 2.0)])
    t = vt.begin()
    t.delete_keys([(1,)])
    t.commit()
    df = spark.read.format("versioned").option("path", vt.path).load()
    assert rows_of(df) == {2: ("b", 2.0)}


def test_reader_folds_checkpoint_plus_deltas(vt, spark):
    _commit(vt, spark, [(1, "a", 1.0), (2, "b", 2.0)])
    vt.checkpoint()
    _commit(vt, spark, [(2, "b2", 2.5)])
    df = spark.read.format("versioned").option("path", vt.path).load()
    assert rows_of(df) == {1: ("a", 1.0), 2: ("b2", 2.5)}


def test_partitioned_read_no_dup_no_loss(vt, spark):
    rows = [(i, f"v{i}", float(i)) for i in range(200)]
    _commit(vt, spark, rows)
    # update half of them in a second commit
    _commit(vt, spark, [(i, f"u{i}", float(i) * 2) for i in range(0, 200, 2)])
    df = (
        spark.read.format("versioned")
        .option("path", vt.path)
        .option("numPartitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    got = rows_of(df)
    assert len(got) == 200
    assert got[3] == ("v3", 3.0) and got[4] == ("u4", 8.0)


def test_append_write_then_read(vt, spark):
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    df.write.format("versioned").mode("append").option("path", vt.path).save()
    # connector commit is one manifest — visible to the table API too
    assert vt.latest_csn() == 1
    assert rows_of(vt.snapshot()) == {1: ("a", 1.0), 2: ("b", 2.0)}
    # a second append upserts over the first (newer csn wins per key)
    df2 = spark.createDataFrame([(2, "b2", 2.5)], SCHEMA)
    df2.write.format("versioned").mode("append").option("path", vt.path).save()
    back = spark.read.format("versioned").option("path", vt.path).load()
    assert rows_of(back) == {1: ("a", 1.0), 2: ("b2", 2.5)}


def test_empty_bulk_append_publishes_no_op(spark, tmp_path):
    """A bulk append whose parts staged no row wrote no op dir, so its
    commit must not name one: the table stays readable, checkpoints, and
    takes later appends."""
    register_versioned_format(spark)
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=4
    )
    empty = spark.createDataFrame([(1, "a", 1.0)], SCHEMA).filter("k < 0")
    empty.write.format("versioned").mode("append").save(vt.path)
    assert vt.latest_csn() == 1
    assert vt.snapshot().count() == 0
    assert vt.checkpoint() == 1
    assert vt.snapshot().count() == 0
    df = spark.createDataFrame([(2, "b", 2.0)], SCHEMA)
    df.write.format("versioned").mode("append").save(vt.path)
    assert rows_of(vt.snapshot()) == {2: ("b", 2.0)}


def test_overwrite_mode_rejected(vt, spark):
    df = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    with pytest.raises(Exception, match="overwrite"):
        df.write.format("versioned").mode("overwrite").option("path", vt.path).save()


@pytest.mark.heavy
def test_cdc_stream_tails_commit_log(vt, spark, tmp_path):
    _commit(vt, spark, [(1, "a", 1.0), (2, "b", 2.0)])
    t = vt.begin()
    t.delete_keys([(1,)])
    t.commit()
    _commit(vt, spark, [(3, "c", 3.0)])
    got: list[tuple] = []

    def run_once():
        # foreachBatch sink: supports checkpoint recovery (memory sink
        # does not), runs on the driver in local mode
        q = (
            spark.readStream.format("versioned")
            .option("path", vt.path)
            .option("readChanges", "true")
            .load()
            .writeStream.foreachBatch(
                lambda df, _id: got.extend(
                    (r.k, r._csn, r._change) for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert set(got) == {
        (1, 1, "upsert"),
        (2, 1, "upsert"),
        (1, 2, "delete"),
        (3, 3, "upsert"),
    }
    # incremental restart from the same checkpoint: only NEW commits arrive
    got.clear()
    _commit(vt, spark, [(4, "d", 4.0)])
    run_once()
    assert set(got) == {(4, 4, "upsert")}


def test_cdc_stream_restart_refuses_vacuum_reclaimed_commits(vt, spark, tmp_path):
    """A stream restarted from its checkpoint after checkpoint() +
    vacuum(0) reclaimed commits it has not delivered raises, as changes()
    over the same window does, instead of skipping them and delivering
    only the commits after."""
    got: list[tuple] = []

    def run_once():
        q = (
            spark.readStream.format("versioned")
            .option("path", vt.path)
            .option("readChanges", "true")
            .load()
            .writeStream.foreachBatch(
                lambda df, _id: got.extend((r.k, r._csn) for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _commit(vt, spark, [(1, "a", 1.0)])
    run_once()
    assert got == [(1, 1)]
    _commit(vt, spark, [(2, "b", 2.0)])
    _commit(vt, spark, [(3, "c", 3.0)])
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)
    _commit(vt, spark, [(4, "d", 4.0)])
    got.clear()
    with pytest.raises(Exception, match="vacuum-reclaimed"):
        run_once()
    assert got == []


def test_cdc_stream_over_a_fully_reclaimed_window_raises(vt, spark, tmp_path):
    """A fresh stream over a table whose every delta checkpoint() +
    vacuum(0) reclaimed raises: its latest offset counts the checkpoint's
    csn, so the window reaches the reclaimed-history guard instead of
    reading as empty."""
    for k in (1, 2, 3):
        _commit(vt, spark, [(k, "a", float(k))])
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)
    got: list = []
    q = (
        spark.readStream.format("versioned")
        .option("path", vt.path)
        .option("readChanges", "true")
        .load()
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="vacuum-reclaimed"):
        q.awaitTermination(120)
    assert got == []


def test_stream_requires_cdc_option(vt, spark, tmp_path):
    _commit(vt, spark, [(1, "a", 1.0)])
    # the guard fires when the stream reader is instantiated at query start
    with pytest.raises(Exception, match="readChanges"):
        q = (
            spark.readStream.format("versioned")
            .option("path", vt.path)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


@pytest.mark.heavy
def test_cdc_to_incremental_rollup(vt, spark, tmp_path):
    """End-to-end incremental materialized view: CDC stream from one
    versioned table drives a foreachBatch rollup into another — each
    micro-batch is one ACID commit (the reference's checkpointer cadence,
    checkpointer.rs:44-176, as a streaming pipeline)."""
    agg_schema = T.StructType(
        [
            T.StructField("v", T.StringType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    out = VersionedTable.create(
        spark, str(tmp_path / "rollup"), key_cols=["v"], schema=agg_schema
    )

    def fold_batch(df, _id):
        # upserts only; group deltas by v and merge into the rollup table
        delta = (
            df.filter(F.col("_change") == "upsert")
            .groupBy("v")
            .agg(F.sum("amount").alias("total"))
        )
        rows = {r.v: r.total for r in delta.collect()}
        if not rows:
            return
        current = {r.v: r.total for r in out.snapshot().collect()}
        merged = [(v, current.get(v, 0.0) + t) for v, t in rows.items()]
        t = out.begin()
        t.upsert(spark.createDataFrame(merged, agg_schema))
        t.commit()

    def run_stream():
        q = (
            spark.readStream.format("versioned")
            .option("path", vt.path)
            .option("readChanges", "true")
            .load()
            .writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt_rollup"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _commit(vt, spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 4.0)])
    run_stream()
    assert {r.v: r.total for r in out.snapshot().collect()} == {"a": 5.0, "b": 2.0}

    # incremental: new commits fold on top without reprocessing history
    _commit(vt, spark, [(4, "b", 10.0)])
    run_stream()
    assert {r.v: r.total for r in out.snapshot().collect()} == {"a": 5.0, "b": 12.0}


def test_bulk_append_conflict_with_concurrent_commit(vt, spark):
    """Two-directional conflict protection for the bulk writer (tran_mgr
    parity): a bulk append planned before a concurrent overlapping commit
    must abort instead of silently winning last-csn (lost update)."""
    from db_core_spark.plans.versioned import ConflictError, op_write_set
    from db_core_spark.sources.versioned_datasource import VersionedAppendWriter

    _commit(vt, spark, [(1, "a", 1.0)])
    # plan the bulk writer (pins start_csn), stage a part touching k=1
    w = VersionedAppendWriter(SCHEMA, {"path": vt.path})
    msg = w.write(iter([(1, "bulk", 5.0), (9, "new", 9.0)]))
    assert ("1",) in op_write_set([{"dir": w.op_dir}], ["k"])
    # concurrent txn commits an overlapping key after the writer was planned
    _commit(vt, spark, [(1, "other", 2.0)])
    with pytest.raises(ConflictError):
        w.commit([msg])
    # non-overlapping bulk append still succeeds
    w2 = VersionedAppendWriter(SCHEMA, {"path": vt.path})
    msg2 = w2.write(iter([(7, "ok", 7.0)]))
    w2.commit([msg2])
    assert rows_of(vt.snapshot())[7] == ("ok", 7.0)


def test_bulk_append_conflicts_optimistic_txn_both_ways(vt, spark):
    """A txn that began before a bulk append committed overlapping keys must
    abort at commit — the txn-side check reads the append's keys from its
    op dir, so it sees real overlap, not just the conservative None."""
    from db_core_spark.plans.versioned import ConflictError

    _commit(vt, spark, [(1, "a", 1.0)])
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "txn", 3.0)], SCHEMA))
    # bulk append lands first, touching the same key
    spark.createDataFrame([(1, "bulk", 5.0)], SCHEMA).write.format("versioned").mode(
        "append"
    ).option("path", vt.path).save()
    with pytest.raises(ConflictError):
        t.commit()
    # disjoint txn is NOT blocked by the enumerated bulk write-set
    t2 = vt.begin()
    t2.upsert(spark.createDataFrame([(42, "free", 0.5)], SCHEMA))
    spark.createDataFrame([(2, "bulk2", 6.0)], SCHEMA).write.format("versioned").mode(
        "append"
    ).option("path", vt.path).save()
    t2.commit()
    assert rows_of(vt.snapshot())[42] == ("free", 0.5)


@pytest.mark.parametrize("local", [True, False], ids=["local-txn", "spark-txn"])
def test_timestamp_key_bulk_append_conflicts_with_txn(spark, tmp_path, local):
    """A bulk append and a concurrent Transaction that write the same
    timestamp key must conflict, in both orders. The pyarrow writers see
    the key tz-aware (UTC-cast table, toArrow()), a Spark-written file
    reads back naive; every write-set is encoded through key_string, so
    both spell the key the same and the overlap is not lost."""
    import datetime as dt

    from db_core_spark.operators.litframe import literal_frame
    from db_core_spark.plans.versioned import ConflictError
    from db_core_spark.sources.versioned_datasource import VersionedAppendWriter

    register_versioned_format(spark)
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType(), False), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(spark, str(tmp_path / "ts"), key_cols=["ts"], schema=schema)
    key = dt.datetime(2024, 1, 2, 3, 4, 5, 600000)

    def frame(v):
        df = literal_frame(spark, [(key, v)], schema)
        return df if local else df.repartition(2)

    t = vt.begin()
    t.upsert(frame("txn"))
    spark.createDataFrame([(key, "bulk")], schema).write.format("versioned").mode(
        "append"
    ).option("path", vt.path).save()
    with pytest.raises(ConflictError):
        t.commit()

    w = VersionedAppendWriter(schema, {"path": vt.path})
    msg = w.write(iter([(key, "bulk2")]))
    t = vt.begin()
    t.upsert(frame("txn2"))
    t.commit()
    with pytest.raises(ConflictError):
        w.commit([msg])
    assert [tuple(r) for r in vt.snapshot().collect()] == [(key, "txn2")]


@pytest.mark.parametrize("kind", ["append", "stream"])
def test_writer_conflict_window_reclaimed_by_vacuum_raises(vt, spark, kind):
    """A DataSource writer whose conflict window vacuum partly reclaimed
    cannot check the commits that were in it, so its commit raises
    ConflictError like a Transaction's would, instead of publishing over
    a concurrent write to the same key. The bulk writer's commit runs on
    the instance Spark pickled at planning time, so its window opens
    before the concurrent commit in real writes too."""
    from db_core_spark.plans.versioned import ConflictError
    from db_core_spark.sources.versioned_datasource import (
        VersionedAppendWriter,
        VersionedStreamWriter,
    )

    if kind == "append":
        w = VersionedAppendWriter(SCHEMA, {"path": vt.path})
    else:
        w = VersionedStreamWriter(SCHEMA, {"path": vt.path, "writerid": "w1"})
    _commit(vt, spark, [(1, "txn", 2.0)])
    vt.checkpoint()
    vt.vacuum(retain_seconds=0)
    msgs = [w.write(iter([(1, "bulk", 5.0)]))]
    with pytest.raises(ConflictError, match="reclaimed"):
        w.commit(msgs) if kind == "append" else w.commit(msgs, batchId=0)
    assert rows_of(vt.snapshot()) == {1: ("txn", 2.0)}


def test_txn_commit_and_bulk_append_agree_on_buckets(vt, spark):
    """A txn commit (staged on the driver, or in a mapInArrow job for a
    distributed frame) and a bulk append part MUST place a key in the same
    bucket=<b>/ dir, or in-partition version resolution would miss
    cross-writer versions."""
    import glob
    import os

    from db_core_spark.plans.versioned import bucket_of_py

    _commit(vt, spark, [(5, "txn_v1", 1.0)])  # driver-staged txn
    t = vt.begin()
    t.upsert(spark.createDataFrame([(5, "txn_v2", 1.5)], SCHEMA).repartition(2))
    t.commit()  # txn staged by executor tasks
    spark.createDataFrame([(5, "bulk_v3", 2.0)], SCHEMA).write.format("versioned").mode(
        "append"
    ).option("path", vt.path).save()  # bulk append part, same key
    dirs = set()
    for f in glob.glob(os.path.join(vt.path, "data", "tsn=*", "opseq=*", "bucket=*", "*.parquet")):
        dirs.add(os.path.basename(os.path.dirname(f)))
    assert dirs == {f"bucket={bucket_of_py([5], vt.num_buckets)}"}
    # the bucketed (shuffle-free) snapshot sees the newest bulk version win
    assert rows_of(vt.snapshot()) == {5: ("bulk_v3", 2.0)}


def test_bulk_append_publishes_only_reported_files(vt, spark):
    """commit() publishes only the files its messages report: a part whose
    message never reached the driver (a failed task attempt) wrote files
    under the op dir, and they must not become visible."""
    from db_core_spark.sources.versioned_datasource import VersionedAppendWriter

    w = VersionedAppendWriter(SCHEMA, {"path": vt.path})
    first = w.write(iter([(1, "a", 1.0)]))
    w.write(iter([(2, "lost", 2.0)]))  # its message is dropped
    w.commit([first])
    assert rows_of(vt.snapshot()) == {1: ("a", 1.0)}
    assert rows_of(window_snapshot(vt)) == {1: ("a", 1.0)}
    assert {r.k for r in vt.changes().collect()} == {1}


def test_lookup_on_composite_bucket_prefix(spark, tmp_path):
    """bucket_cols as a strict prefix of key_cols: ObjectStore-style layout
    where all chunks of one object co-locate; lookup by the prefix alone."""
    from db_core_spark.plans import VersionedTable

    schema = T.StructType(
        [
            T.StructField("obj", T.LongType()),
            T.StructField("chunk", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "pfx"), key_cols=["obj", "chunk"],
        schema=schema, num_buckets=4, bucket_cols=["obj"],
    )
    t = vt.begin()
    t.upsert(
        spark.createDataFrame(
            [(o, c, f"{o}:{c}") for o in range(10) for c in range(3)], schema
        )
    )
    t.commit()
    got = {(r.obj, r.chunk) for r in vt.lookup({"obj": 4}).collect()}
    assert got == {(4, 0), (4, 1), (4, 2)}
    with pytest.raises(ValueError, match="bucket columns"):
        vt.lookup({"chunk": 1})


def test_cdc_backfill_plans_multiple_partitions(vt, spark):
    """The partition-planning CDC reader fans a backfill out: each commit
    contributes one input partition per bucket dir, so a multi-commit replay
    is executor-parallel instead of a driver-side fold (VERDICT r1 item #6)."""
    from db_core_spark.sources.versioned_datasource import (
        VersionedChangeStreamReader,
    )

    _commit(vt, spark, [(i, f"a{i}", float(i)) for i in range(40)])
    _commit(vt, spark, [(i, f"b{i}", float(i)) for i in range(40)])
    reader = VersionedChangeStreamReader(SCHEMA, {"path": vt.path})
    assert reader.initialOffset() == {"csn": 0}
    assert reader.latestOffset() == {"csn": 2}
    parts = reader.partitions({"csn": 0}, {"csn": 2})
    assert len(parts) > 2  # bucket-level fan-out, not one partition per batch
    assert {p.csn for p in parts} == {1, 2}
    assert all("bucket=" in p.dir for p in parts)
    # replaying only the second commit narrows to its dirs
    tail = reader.partitions({"csn": 1}, {"csn": 2})
    assert {p.csn for p in tail} == {2}
    # rows across partitions reassemble the full change feed exactly once
    rows = change_rows(reader, parts)
    assert len(rows) == 80
    assert {(r[0], r[3], r[4]) for r in rows} == {
        (i, c, "upsert") for i in range(40) for c in (1, 2)
    }


def test_rebucket_layout_migration(spark, tmp_path):
    """rebucket(): readers stay correct across a live layout migration —
    old-B ops fall back to read+row-filter with the NEW bucket function,
    the migration checkpoint materializes the new layout, and post-
    migration lookups prune to single new-layout buckets."""
    import glob
    import os

    from db_core_spark.plans import VersionedTable

    vt = VersionedTable.create(
        spark, str(tmp_path / "rb"), key_cols=["k"], schema=SCHEMA, num_buckets=4
    )
    _commit(vt, spark, [(i, f"a{i}", float(i)) for i in range(30)])
    _commit(vt, spark, [(i, f"b{i}", float(i)) for i in range(0, 30, 2)])
    before = rows_of(vt.snapshot())
    ck = vt.rebucket(8)
    assert ck == 2 and vt.num_buckets == 8
    # checkpoint materialized under the new layout
    ck_buckets = {
        os.path.basename(d)
        for d in glob.glob(os.path.join(vt.path, "data", f"checkpoint-{ck:010d}", "bucket=*"))
    }
    assert ck_buckets and all(int(b.split("=")[1]) < 8 for b in ck_buckets)
    assert rows_of(vt.snapshot()) == before
    assert rows_of(window_snapshot(vt)) == before
    # new writes land under the new bucket count and lookups prune to one
    _commit(vt, spark, [(99, "post", 9.0)])
    got = vt.lookup({"k": 99}).collect()
    assert [(r.k, r.v) for r in got] == [(99, "post")]
    # old-layout files reclaim after vacuum; reads stay correct
    vt.vacuum(retain_seconds=0.0)
    after = rows_of(vt.snapshot())
    assert after[99] == ("post", 9.0) and after[1] == ("a1", 1.0) and after[2] == ("b2", 2.0)


def test_vacuum_reader_safety(vt, spark):
    """Round-3 reader-safety item, two halves:

    (a) A snapshot DataFrame held across checkpoint+vacuum re-resolves its
        op list at its pinned csn when the pinned op dirs are gone, so
        collection returns the COMPLETE fold — never a partial one — and
        an as-of read whose history was reclaimed raises rather than
        silently shrinking.
    (b) An op dir that a still-published manifest names is missing: that
        is damage, not a vacuum race, and the read fails LOUDLY saying so
        (missing bucket subdirs stay a legitimate skip; a missing op dir
        is an error)."""
    import shutil

    import pytest as _pytest

    from db_core_spark.sources.versioned_datasource import (
        BucketSetPartition,
        VersionedSnapshotReader,
    )

    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], vt.schema))
    t.commit()
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a2", 1.5)], vt.schema))
    t.commit()

    held = vt.snapshot()
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)  # reclaims both delta op dirs
    # (a) complete fold after vacuum, and loud as-of failure
    assert sorted((r.k, r.v) for r in held.collect()) == [(1, "a2"), (2, "b")]
    from db_core_spark.plans.versioned import SnapshotUnavailableError

    with _pytest.raises(SnapshotUnavailableError):
        vt.snapshot(as_of_csn=1)

    # (b) mid-read disappearance: plan a reader, delete one op dir, read
    t = vt.begin()
    t.upsert(spark.createDataFrame([(3, "c", 3.0)], vt.schema))
    t.commit()
    reader = VersionedSnapshotReader(vt.schema, {"path": vt.path})
    victim = next(op for op in reader.ops if not op["checkpoint"])
    shutil.rmtree(victim["dir"])
    part = BucketSetPartition(buckets=tuple(range(vt.num_buckets)))
    with _pytest.raises(RuntimeError, match="manifest is still published") as err:
        list(reader.read(part))
    assert victim["dir"] in str(err.value) and f"csn {victim['csn']}" in str(err.value)


def test_batch_changes_feed_matches_commits(spark, tmp_path):
    """VersionedTable.changes(A, B) must replay exactly the change rows of
    the commits in (A, B] — the batch twin of the CDC stream, bounds
    inclusive-exclusive, with delete rows present and csn tags right."""
    from pyspark.sql import functions as F, types as T

    from db_core_spark.plans import VersionedTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=schema
    )
    t1 = vt.begin()
    t1.upsert(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    c1 = t1.commit()
    t2 = vt.begin()
    t2.upsert(spark.createDataFrame([(1, "a2")], schema))
    c2 = t2.commit()
    t3 = vt.begin()
    t3.delete_keys([{"k": 2}])
    c3 = t3.commit()

    all_rows = {(r.k, r.v, r._csn, r._change) for r in vt.changes().collect()}
    assert (1, "a", c1, "upsert") in all_rows
    assert (1, "a2", c2, "upsert") in all_rows
    assert any(r[0] == 2 and r[2] == c3 and r[3] == "delete" for r in all_rows)
    # window (c1, c2]: only the second commit's rows
    win = {(r.k, r._csn) for r in vt.changes(from_csn=c1, to_csn=c2).collect()}
    assert win == {(1, c2)}
    # from_csn is exclusive: (c3, latest] is empty
    assert vt.changes(from_csn=c3).count() == 0
    import pytest as _pytest

    with _pytest.raises(Exception):
        vt.changes(from_csn=5, to_csn=1).count()


def test_unfiltered_read_unaffected_by_sibling_point_lookup(spark, tmp_path):
    """Regression guard for the pushFilters leak (see the reader's NOTE):
    sibling queries on one load() must not contaminate each other — a
    point-lookup filter followed by an unfiltered count must see the whole
    table, and the full bucket fan-out must plan for the unfiltered read."""
    from pyspark.sql import functions as F, types as T

    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import register

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_push"), key_cols=["k"], schema=schema,
        num_buckets=8,
    )
    t = vt.begin()
    t.upsert(spark.createDataFrame([(i, i * 10) for i in range(64)], schema))
    t.commit()
    register(spark)
    base = spark.read.format("versioned").option("path", vt.path).load()
    eq = base.filter(F.col("k") == 7)
    assert [(r.k, r.v) for r in eq.collect()] == [(7, 70)]
    assert base.count() == 64
    assert base.rdd.getNumPartitions() == 8


def test_batch_changes_refuses_vacuum_reclaimed_window(spark, tmp_path):
    """changes(A, B) is a LEDGER read: a commit vacuum-reclaimed inside the
    requested window would silently vanish from the feed — the consumer
    sees an incomplete change history with no signal. The reader must
    refuse loudly; windows entirely above the reclaim line still work."""
    from db_core_spark.plans import VersionedTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "ledger"), key_cols=["k"], schema=schema
    )
    for i in range(3):
        t = vt.begin()
        t.upsert(spark.createDataFrame([(i, f"v{i}")], schema))
        t.commit()
    vt.checkpoint()
    vt.vacuum(retain_seconds=0)  # reclaims delta manifests csn 1..3
    t = vt.begin()
    t.upsert(spark.createDataFrame([(9, "after")], schema))
    c4 = t.commit()

    # window above the reclaim line: complete, works
    post = {(r.k, r._csn) for r in vt.changes(from_csn=3).collect()}
    assert post == {(9, c4)}
    # window spanning reclaimed commits: loud failure, not a partial feed
    with pytest.raises(Exception, match="vacuum-reclaimed"):
        vt.changes(from_csn=0).count()


@contextmanager
def job_tasks(spark):
    """Yields a list that holds, on exit, the task count of each Spark job
    started inside the block (its stages' tasks, counted through the
    status tracker's job group)."""
    sc = spark.sparkContext
    group = f"changes-{uuid.uuid4().hex}"
    out: list[int] = []
    sc.setJobGroup(group, "changes")
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for job in sorted(tracker.getJobIdsForGroup(group)):
            stages = tracker.getJobInfo(job).stageIds
            out.append(sum(tracker.getStageInfo(s).numTasks for s in stages))


def _bucketed_feed_table(spark, tmp_path, commits: int):
    vt = VersionedTable.create(
        spark, str(tmp_path / "feed"), key_cols=["k"], schema=SCHEMA, num_buckets=16
    )
    for c in range(commits):
        _commit(vt, spark, [(i, f"c{c}", float(i)) for i in range(50)])
    return vt


def test_changes_runs_one_job_of_at_most_one_task_per_core(spark, tmp_path):
    """changes() reads every op bucket dir of its window in ONE job of
    min(dirs, defaultParallelism) tasks, each reading the dirs spark.range
    hands it — not one Python task per op x bucket dir."""
    from db_core_spark.sources.versioned_datasource import (
        VersionedChangeStreamReader,
    )

    vt = _bucketed_feed_table(spark, tmp_path, commits=3)
    dirs = VersionedChangeStreamReader(None, {"path": vt.path}).partitions(
        {"csn": 0}, {"csn": 3}
    )
    cores = spark.sparkContext.defaultParallelism
    assert len(dirs) > cores
    with job_tasks(spark) as tasks:
        rows = vt.changes().collect()
    assert tasks == [cores]
    assert len(rows) == 150
    assert {(r.k, r.v, r._csn) for r in rows} == {
        (i, f"c{c}", c + 1) for i in range(50) for c in range(3)
    }


def test_changes_empty_window_runs_no_job(spark, tmp_path):
    vt = _bucketed_feed_table(spark, tmp_path, commits=1)
    with job_tasks(spark) as tasks:
        assert vt.changes(from_csn=1).collect() == []
        assert vt.changes(from_csn=1, include_opseq=True).columns[-1] == "_opseq"
    assert tasks == []


def test_changes_pins_and_checks_its_window_at_the_call(vt, spark):
    """from_csn > to_csn and a window vacuum reclaimed raise from changes()
    itself, and the window is the one resolved at the call: a commit after
    it is not in the frame."""
    for i in range(3):
        _commit(vt, spark, [(i, f"v{i}", float(i))])
    with pytest.raises(ValueError, match="from_csn 3 > to_csn 1"):
        vt.changes(from_csn=3, to_csn=1)
    feed = vt.changes(from_csn=1)
    _commit(vt, spark, [(9, "late", 9.0)])
    assert {(r.k, r._csn) for r in feed.collect()} == {(1, 2), (2, 3)}
    vt.checkpoint()
    vt.vacuum(retain_seconds=0)
    # every delta is reclaimed and none came after: still loud, not empty
    with pytest.raises(RuntimeError, match="vacuum-reclaimed"):
        vt.changes(from_csn=0)
    assert vt.changes(from_csn=4).collect() == []


def test_batch_read_changes_load_is_refused(vt, spark):
    _commit(vt, spark, [(1, "a", 1.0)])
    with pytest.raises(Exception, match=r"VersionedTable\.changes\(\)"):
        (
            spark.read.format("versioned")
            .option("path", vt.path)
            .option("readChanges", "true")
            .load()
            .collect()
        )


def test_changes_builds_through_the_fold_job():
    from db_core_spark.sources import versioned_datasource

    assert not hasattr(versioned_datasource, "VersionedChangesBatchReader")
    calls = {
        n.func.attr if isinstance(n.func, ast.Attribute) else getattr(n.func, "id", "")
        for n in ast.walk(ast.parse(textwrap.dedent(inspect.getsource(VersionedTable.changes))))
        if isinstance(n, ast.Call)
    }
    assert "_fold_job" in calls
    assert not {"format", "load", "register_versioned_format"} & calls


def test_datasource_group_visibility_uses_table_grace(spark, tmp_path):
    """The DataSource resolves pending group markers with the grace window
    persisted in the table's _meta.json — NOT this process's default. A
    reader defaulting to a SHORTER grace would force-abort a healthy
    in-flight group commit owned by a writer configured with a longer one."""
    import json
    import os

    from db_core_spark.config import DEFAULT_CONFIG, EngineConfig
    from db_core_spark.plans import Database
    from db_core_spark.plans.versioned import group_visible
    from db_core_spark.sources.versioned_datasource import _table_grace

    patient = EngineConfig(group_pending_grace_seconds=3600.0, num_buckets=4)
    db = Database.create(spark, str(tmp_path / "gdb"), config=patient)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    db.create_table("a", key_cols=["k"], schema=schema)
    db.create_table("b", key_cols=["k"], schema=schema)
    apath = os.path.join(str(tmp_path / "gdb"), "a")

    # grace persisted at create time and read back by the DataSource helper
    meta = json.load(open(os.path.join(apath, "_meta.json")))
    assert meta["group_pending_grace_seconds"] == 3600.0
    # no cache_clear needed: the cache keys on the meta file's mtime, so a
    # recreated table at the same path can never serve a stale grace
    assert _table_grace(apath) == 3600.0

    # pending group claimed on both tables; coordinator paused before DECIDE
    g = db.begin()
    g.upsert("a", spark.createDataFrame([(1, "ga")], schema))
    g.upsert("b", spark.createDataFrame([(10, "gb")], schema))
    staged = {n: t._stage() for n, t in g._txns.items()}
    group_field = {"dir": db.group_dir, "id": g.gid}
    for name, txn in g._txns.items():
        txn._done = True
        txn._claim(staged[name], group=group_field)

    pending = [m for m in db.table("a")._manifests() if m.get("group") is not None]
    assert pending

    # The decisive probe: a member manifest OLDER than the process default
    # grace but well inside the table's 3600 s. A reader resolving with
    # DEFAULT_CONFIG's grace (the pre-fix DataSource behavior) is past the
    # deadline and would force-abort this healthy in-flight group; with the
    # table's persisted grace it is still simply pending and untouched.
    import time as _time

    from db_core_spark.plans.versioned import resolve_group_status

    old_ts = _time.time() - 2 * DEFAULT_CONFIG.group_pending_grace_seconds
    assert DEFAULT_CONFIG.group_pending_grace_seconds < 3600.0
    status = resolve_group_status(
        pending[0]["group"], old_ts, _table_grace(apath), wait=False
    )
    assert status == "pending"
    assert not os.path.exists(os.path.join(db.group_dir, f"{g.gid}.json"))

    # once the coordinator decides, the DataSource sees it (non-blocking:
    # the marker is immutable after publish)
    from db_core_spark.plans.versioned import publish_manifest

    publish_manifest(
        db.group_dir, f"{g.gid}.json", {"status": "committed", "by": "test"}
    )
    assert group_visible(pending[0], _table_grace(apath))


def test_table_grace_survives_malformed_meta(tmp_path):
    """A torn/hand-edited _meta.json must degrade _table_grace to the
    process default instead of crashing DataSource planning (ADVICE r5:
    json.load raised ValueError through the OSError-only catch)."""
    import os

    from db_core_spark.config import DEFAULT_CONFIG
    from db_core_spark.sources.versioned_datasource import _table_grace

    tdir = str(tmp_path / "torn")
    os.makedirs(tdir)
    with open(os.path.join(tdir, "_meta.json"), "w") as fh:
        fh.write('{"key_cols": ["k"], "group_pending_grace_se')  # torn write
    assert _table_grace(tdir) == DEFAULT_CONFIG.group_pending_grace_seconds

    # non-numeric grace value degrades the same way
    with open(os.path.join(tdir, "_meta.json"), "w") as fh:
        fh.write('{"group_pending_grace_seconds": "soon"}')
    assert _table_grace(tdir) == DEFAULT_CONFIG.group_pending_grace_seconds
