"""Python DataSource connector tests: format('versioned') batch snapshot /
time-travel reads, transactional append writes, and CDC streaming reads —
the Spark-native surface over the VersionedTable commit log.

Parity concerns mirrored (citations into /root/reference):
- snapshot + time travel    src/storage/block_driver.rs:457-486 (visibility)
- atomic group commit       src/system/instance.rs:102-111
- WAL tail (CDC)            src/log_mgr/io.rs:254-441
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from db_core_spark.plans import VersionedTable
from db_core_spark.sources import register_versioned_format

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
    from db_core_spark.plans.versioned import ConflictError
    from db_core_spark.sources.versioned_datasource import VersionedAppendWriter

    _commit(vt, spark, [(1, "a", 1.0)])
    # plan the bulk writer (pins start_csn), stage a part touching k=1
    w = VersionedAppendWriter(SCHEMA, {"path": vt.path})
    msg = w.write(iter([(1, "bulk", 5.0), (9, "new", 9.0)]))
    assert msg.keys is not None and ("1",) in {tuple(k) for k in msg.keys}
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
    abort at commit — the writer now enumerates write_keys so the txn-side
    check sees real overlap, not just the conservative None."""
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
    reads back naive; every writer records write_keys through key_string,
    so both spell the key the same and the overlap is not lost."""
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


def test_jvm_and_python_writers_agree_on_buckets(vt, spark):
    """The JVM bucket_expr (txn commits) and python bucket_of_py (bulk
    append parts) MUST place a key in the same bucket=<b>/ dir, or
    in-partition version resolution would miss cross-writer versions."""
    import glob
    import os

    from db_core_spark.plans.versioned import bucket_of_py

    _commit(vt, spark, [(5, "txn_v1", 1.0)])  # JVM writer
    spark.createDataFrame([(5, "bulk_v2", 2.0)], SCHEMA).write.format("versioned").mode(
        "append"
    ).option("path", vt.path).save()  # python writer, same key
    dirs = set()
    for f in glob.glob(os.path.join(vt.path, "data", "tsn=*", "opseq=*", "bucket=*", "*.parquet")):
        dirs.add(os.path.basename(os.path.dirname(f)))
    assert dirs == {f"bucket={bucket_of_py([5], vt.num_buckets)}"}
    # the bucketed (shuffle-free) snapshot sees the newer bulk version win
    assert rows_of(vt.snapshot()) == {5: ("bulk_v2", 2.0)}


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
    rows = [r for p in parts for r in reader.read(p)]
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
    assert rows_of(vt.snapshot(engine="window")) == before
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

    (a) A snapshot DataFrame held across checkpoint+vacuum re-plans at each
        action (the Python DataSource re-resolves the op list per
        execution), so re-collection returns the COMPLETE post-vacuum fold
        — never a partial one — and a pinned as-of read whose history was
        reclaimed raises rather than silently shrinking.
    (b) The only true race window — vacuum deleting an op dir between a
        scan's planning and its tasks — fails LOUDLY via the
        dirs_for_partition guard (missing bucket subdirs stay a legitimate
        skip; a missing op dir is an error)."""
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
    with _pytest.raises(RuntimeError, match="vacuum raced"):
        list(reader.read(part))


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
        ops_meta, keys = staged[name]
        txn._done = True
        txn._claim(ops_meta, keys, group=group_field)

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
