"""Width of the bucketed snapshot and checkpoint reads: `VersionedTable`
plans min(num_buckets, defaultParallelism) bucket-group partitions, and
neither the rows nor the checkpoint's file layout depend on that width."""

from __future__ import annotations

import glob
import os

from pyspark.sql import types as T

from db_core_spark.plans import VersionedTable
from db_core_spark.plans.versioned import bucket_of_py
from db_core_spark.sources import register_versioned_format

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)
BUCKETS = 16


def _commit(vt, spark, rows=(), deletes=()):
    t = vt.begin()
    if rows:
        t.upsert(spark.createDataFrame(list(rows), vt.schema))
    if deletes:
        t.delete_keys([{"k": k} for k in deletes])
    return t.commit()


def _table(spark, tmp_path):
    """200 keys over 16 buckets: a checkpointed base with updates and
    tombstones in the deltas above it."""
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=BUCKETS
    )
    _commit(vt, spark, [(i, f"a{i}") for i in range(200)])
    _commit(vt, spark, [(i, f"b{i}") for i in range(0, 200, 3)], deletes=range(1, 200, 7))
    vt.checkpoint()
    _commit(vt, spark, [(i, f"c{i}") for i in range(0, 260, 5)], deletes=range(2, 200, 11))
    return vt


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_snapshot_width_follows_cores_and_rows_do_not(spark, tmp_path):
    vt = _table(spark, tmp_path)
    snap = vt.snapshot()
    assert snap.rdd.getNumPartitions() == min(
        BUCKETS, spark.sparkContext.defaultParallelism
    )
    want = _rows(snap)
    assert len(want) > 150
    register_versioned_format(spark)
    for n in (1, 3, 16):
        df = (
            spark.read.format("versioned")
            .option("path", vt.path)
            .option("numPartitions", n)
            .load()
        )
        assert df.rdd.getNumPartitions() == n
        assert _rows(df) == want, f"numPartitions={n}"


def test_checkpoint_writes_one_file_per_non_empty_bucket(spark, tmp_path):
    vt = _table(spark, tmp_path)
    live = {k for k, _ in _rows(vt.snapshot())}
    _commit(vt, spark, [(1000, "x")], deletes=[1000])
    csn = vt.checkpoint()
    ck_dir = os.path.join(vt.path, "data", f"checkpoint-{csn:010d}")
    bucket_dirs = glob.glob(os.path.join(ck_dir, "bucket=*"))
    assert {int(d.rsplit("=", 1)[1]) for d in bucket_dirs} == {
        bucket_of_py([k], BUCKETS) for k in live
    }
    for d in bucket_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert {k for k, _ in _rows(vt.snapshot())} == live


def test_stale_handle_reads_and_checkpoints_the_new_column(spark, tmp_path):
    """Handle B was opened before handle A widened the schema: B's scans
    and checkpoints still carry the new column, as _meta.json says."""
    vt = _table(spark, tmp_path)
    b = VersionedTable.open(spark, vt.path)
    vt.alter_add_column("w", T.LongType())
    _commit(vt, spark, [(7, "new", 70)])
    assert "w" not in b.schema.fieldNames()
    got = {r.k: r.w for r in b.snapshot().collect()}
    assert got[7] == 70 and got[0] is None
    csn = b.checkpoint()
    assert csn == vt.latest_csn()
    after = {r.k: (r.v, r.w) for r in vt.snapshot().collect()}
    assert after[7] == ("new", 70)
    assert after == {r.k: (r.v, r.w) for r in b.snapshot().collect()}
