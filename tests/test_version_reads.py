"""One version read.

Every read of committed versions goes through the versioned reader:
`snapshot()` and `lookup()` fold its `versions`, `history()` yields them
unresolved in the same job, and `Transaction.read()` layers a
transaction's buffered ops over `snapshot(start_csn)`. The reference the
tests check against is `jvm_versions` (tests/conftest.py), a JVM parquet
read of the same op dirs. The last tests pin the shape in source, in the
style of test_snapshot_job.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import types as T

from db_core_spark.plans import VersionedTable
from db_core_spark.plans import versioned
from db_core_spark.sources.versioned_datasource import VersionedChangeStreamReader

from tests.conftest import jvm_versions
from tests.test_snapshot_job import _calls

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def _commit(vt, spark, rows=(), deletes=()):
    t = vt.begin()
    if rows:
        t.upsert(spark.createDataFrame(list(rows), vt.schema))
    if deletes:
        t.delete_keys([{"k": k} for k in deletes])
    return t.commit()


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_history_equals_the_jvm_read(spark, tmp_path):
    """Across a checkpoint, a rebucket, tombstones, a NULL key and another
    handle's alter_add_column, history() returns the versions the JVM
    reference reads, typed by the schema _meta.json names."""
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=4
    )

    def check():
        assert _sorted(vt.history()) == _sorted(jvm_versions(vt))

    _commit(vt, spark, [(i, f"a{i}") for i in range(8)] + [(None, "null")])
    _commit(vt, spark, [(1, "b1")], deletes=[2, None])
    check()
    vt.checkpoint()
    _commit(vt, spark, [(3, "c3"), (None, "back")], deletes=[4])
    check()
    vt.rebucket(2)
    _commit(vt, spark, [(5, "d5")], deletes=[6])
    check()
    other = VersionedTable.open(spark, vt.path)
    other.alter_add_column("w", T.LongType())
    t = other.begin()
    t.upsert(spark.createDataFrame([(7, "e7", 70)], other.schema))
    t.commit()
    check()
    hist = vt.history()
    assert hist.columns == ["k", "v", "w", "_csn", "_opseq", "_deleted"]
    assert sorted(r.w for r in hist.collect() if r.w is not None) == [70]


def test_tombstones_of_a_not_null_column(spark, tmp_path):
    """A tombstone's non-key columns are null even where the table declares
    them NOT NULL. The delete's file stores them nullable (a required
    parquet column holding nulls once made the bucket unreadable),
    history() reads them as nullable, and the fold, checkpoint and a
    transaction's read resolve over them."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=schema)
    _commit(vt, spark, [(1, "a"), (2, "b")])
    _commit(vt, spark, deletes=[1])
    assert _sorted(vt.history()) == _sorted(jvm_versions(vt))
    assert all(f.nullable for f in vt.history().schema.fields)
    vt.checkpoint()
    assert _sorted(vt.snapshot()) == [(2, "b")]
    t = vt.begin()
    t.delete_keys([(2,)])
    assert t.read().collect() == []
    t.rollback()


def test_history_of_an_empty_table_is_empty(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    assert vt.history().collect() == []
    assert jvm_versions(vt).collect() == []


def test_history_held_across_checkpoint_and_vacuum_raises(spark, tmp_path):
    """history() is pinned when called. Once checkpoint() + vacuum(0)
    reclaim its op dirs, a collect raises: the re-resolved op list starts
    at the checkpoint and holds fewer versions, so reading it would change
    the held DataFrame's rows without a word."""
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=2
    )
    _commit(vt, spark, [(1, "a"), (2, "b")])
    _commit(vt, spark, [(1, "a2")], deletes=[2])
    held = vt.history()
    assert held.count() == 4
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)
    with pytest.raises(Exception, match="reclaimed since history"):
        held.collect()
    assert _sorted(vt.history()) == _sorted(jvm_versions(vt))
    assert vt.history().count() == 1


def test_read_sees_a_null_key_own_write(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    _commit(vt, spark, [(None, "old"), (1, "a")])
    t = vt.begin()
    t.upsert(spark.createDataFrame([(None, "new")], SCHEMA))
    assert _sorted(t.read()) == sorted([(None, "new"), (1, "a")], key=repr)
    t.rollback()


def test_read_upsert_then_delete_in_one_txn(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    _commit(vt, spark, [(1, "a"), (2, "b")])
    t = vt.begin()
    t.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], SCHEMA))
    t.delete_keys([(1,), (3,)])
    assert _sorted(t.read()) == [(2, "b")]
    t.commit()
    assert _sorted(vt.snapshot()) == [(2, "b")]


def test_read_delete_then_reupsert_in_one_txn(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    _commit(vt, spark, [(1, "a"), (2, "b")])
    t = vt.begin()
    t.delete_keys([(1,), (2,)])
    t.upsert(spark.createDataFrame([(1, "again")], SCHEMA))
    assert _sorted(t.read()) == [(1, "again")]
    t.commit()
    assert _sorted(vt.snapshot()) == [(1, "again")]


def test_read_on_an_empty_table(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    t = vt.begin()
    assert t.read().collect() == []
    t.upsert(spark.createDataFrame([(1, "a")], SCHEMA))
    assert _sorted(t.read()) == [(1, "a")]
    t.rollback()


def test_read_stays_at_start_csn(spark, tmp_path):
    """The committed part is the snapshot at the transaction's start csn:
    a commit after begin() is not seen, its own writes are."""
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    _commit(vt, spark, [(1, "a")])
    t = vt.begin()
    _commit(vt, spark, [(1, "later"), (2, "later")])
    t.upsert(spark.createDataFrame([(3, "mine")], SCHEMA))
    assert _sorted(t.read()) == [(1, "a"), (3, "mine")]
    t.rollback()


def test_lookup_over_a_fileless_checkpoint_after_rebucket(spark, tmp_path):
    """A fully tombstoned table checkpoints to a dir with no files; after a
    rebucket that checkpoint is read whole as an old-layout op, and the
    point read's key filter once hit a dataset with no schema
    (ArrowInvalid: No match for FieldRef.Name(k))."""
    import json

    from db_core_spark.sources import register_versioned_format

    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=2
    )
    _commit(vt, spark, deletes=[0])
    vt.checkpoint()
    vt.rebucket(1)
    assert vt.lookup({"k": 0}).collect() == []
    register_versioned_format(spark)
    scan = (
        spark.read.format("versioned").option("path", vt.path)
        .option("keyEquals", json.dumps({"k": 0})).load()
    )
    assert scan.collect() == []
    _commit(vt, spark, [(0, "z")])
    assert [(r.k, r.v) for r in vt.lookup({"k": 0}).collect()] == [(0, "z")]


# ------------------------------------------------------------------ source


def test_versions_read_is_gone():
    assert not hasattr(VersionedTable, "_versions")
    assert not hasattr(VersionedTable, "_empty")


def test_history_and_snapshot_build_through_the_fold_job():
    assert "_fold_job" in _calls(VersionedTable.history)
    assert "_fold_job" in _calls(VersionedTable.snapshot)


def test_transaction_read_starts_from_the_snapshot():
    assert "snapshot" in _calls(versioned.Transaction.read)


def test_only_the_preimage_read_reads_parquet_through_spark():
    def parquet_reads(fn):
        lines = inspect.getsource(fn).splitlines()
        return [ln for ln in lines if ".parquet(" in ln and ".write" not in ln]

    assert len(parquet_reads(versioned)) == 1
    assert len(parquet_reads(versioned.Transaction._stage)) == 1


def test_cdc_reader_yields_arrow_batches():
    calls = _calls(VersionedChangeStreamReader.read)
    assert "to_pylist" not in calls
    assert "to_batches" in calls
