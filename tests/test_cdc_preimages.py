"""CDC before-images: update_preimage rows and value-carrying deletes, the
change-feed shape a downstream incremental materialized view needs to
retract aggregates (round-3 item; Delta-CDF-style semantics layered on the
commit log — WAL-tailing parity src/log_mgr/io.rs:254-441, with the version
store supplying the pre-image exactly like
/root/reference/src/storage/version_store.rs:97-119 copies the old entry
image before a write)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from db_core_spark.config import EngineConfig
from db_core_spark.plans import VersionedTable
from tests.conftest import window_snapshot

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

CFG = EngineConfig(cdc_preimages=True, num_buckets=4)


@pytest.fixture
def vt(spark, tmp_path):
    return VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, config=CFG
    )


def rows(spark, *triples):
    return spark.createDataFrame(list(triples), SCHEMA)


def changes(spark, vt, tmp_path, tag):
    from db_core_spark.sources import register_versioned_format

    register_versioned_format(spark)
    sink = str(tmp_path / f"sink_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    (
        spark.readStream.format("versioned")
        .option("path", vt.path)
        .option("readChanges", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    return {
        (r.k, r.grp, r.v, r._csn, r._change)
        for r in spark.read.parquet(sink).collect()
    }


@pytest.mark.heavy
def test_insert_update_delete_change_shapes(vt, spark, tmp_path):
    # csn 1: pure inserts -> no preimages
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 10), (2, "a", 20), (3, "b", 30)))
    t.commit()
    # csn 2: update k=1 (preimage!) and insert k=4
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 11), (4, "b", 40)))
    t.commit()
    # csn 3: delete k=2 (carries old values) and k=99 (never existed: silent)
    t = vt.begin()
    t.delete_keys([(2,), (99,)])
    t.commit()

    got = changes(spark, vt, tmp_path, "all")
    assert got == {
        (1, "a", 10, 1, "upsert"),
        (2, "a", 20, 1, "upsert"),
        (3, "b", 30, 1, "upsert"),
        (1, "a", 11, 2, "upsert"),
        (4, "b", 40, 2, "upsert"),
        (1, "a", 10, 2, "update_preimage"),
        (2, "a", 20, 3, "delete"),
    }


@pytest.mark.heavy
def test_multi_op_txn_preimages_fold_through_earlier_ops(vt, spark, tmp_path):
    """op0 updates k=1, op1 deletes k=1 IN THE SAME txn: the delete's
    preimage must be op0's new value (running-state fold), so a consumer's
    net math retracts exactly once."""
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 10)))
    t.commit()
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 99)))
    t.delete_keys([(1,)])
    t.commit()
    got = changes(spark, vt, tmp_path, "fold")
    assert got == {
        (1, "a", 10, 1, "upsert"),
        (1, "a", 99, 2, "upsert"),
        (1, "a", 10, 2, "update_preimage"),
        (1, "a", 99, 2, "delete"),
    }
    # net per consumer math: +10 (csn1) then (+99 -10 -99) = -10 at csn2
    # -> final sum 0, matching the empty snapshot
    assert vt.snapshot().count() == 0


@pytest.mark.heavy
def test_preimages_off_by_default(spark, tmp_path):
    vt = VersionedTable.create(
        spark, str(tmp_path / "plain"), key_cols=["k"], schema=SCHEMA,
        config=EngineConfig(num_buckets=4),
    )
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 10)))
    t.commit()
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 11)))
    t.commit()
    got = changes(spark, vt, tmp_path, "off")
    # no update_preimage rows; delete rows would be key-only
    assert got == {(1, "a", 10, 1, "upsert"), (1, "a", 11, 2, "upsert")}
    # per-commit override works without table config
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 12)))
    t.commit(capture_preimages=True)
    got = changes(spark, vt, tmp_path, "ovr")
    assert (1, "a", 11, 3, "update_preimage") in got


@pytest.mark.heavy
def test_incremental_mv_with_retraction(vt, spark, tmp_path):
    """The point of before-images: maintain SUM(v) GROUP BY grp purely from
    the change feed — updates retract the old value, deletes retract the
    row — and converge to the direct aggregate without any key state."""
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 10), (2, "a", 20), (3, "b", 30)))
    t.commit()
    t = vt.begin()
    t.upsert(rows(spark, (2, "a", 25), (4, "b", 5)))  # update + insert
    t.commit()
    t = vt.begin()
    t.delete_keys([(3,)])
    t.commit()

    feed = changes(spark, vt, tmp_path, "mv")
    cdc = spark.createDataFrame(
        [(k, g, v, c, ch) for (k, g, v, c, ch) in feed],
        "k long, grp string, v long, _csn long, _change string",
    )
    mv = (
        cdc.withColumn(
            "signed_v",
            F.when(F.col("_change") == "upsert", F.col("v")).otherwise(-F.col("v")),
        )
        .groupBy("grp")
        .agg(F.sum("signed_v").alias("total"))
        .filter(F.col("total") != 0)
    )
    direct = vt.snapshot().groupBy("grp").agg(F.sum("v").alias("total"))
    assert {(r.grp, r.total) for r in mv.collect()} == {
        (r.grp, r.total) for r in direct.collect()
    } == {("a", 35), ("b", 5)}


@pytest.mark.heavy
def test_preimg_dirs_invisible_to_snapshot_readers(vt, spark, tmp_path):
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 10)))
    t.commit()
    t = vt.begin()
    t.upsert(rows(spark, (1, "a", 11)))
    t.commit()
    # both read engines resolve to the new value only
    assert {(r.k, r.v) for r in vt.snapshot().collect()} == {(1, 11)}
    assert {(r.k, r.v) for r in window_snapshot(vt).collect()} == {(1, 11)}
    # history (raw version scan) also unpolluted by preimage files
    assert vt.history().count() == 2


def test_null_key_preimages_retract(vt, spark):
    """A NULL key's update and delete carry its before-image like any other
    key's: preimage capture matches keys null-safely, as the fold does, so
    an incremental MV over the feed converges to the (empty) snapshot."""
    t = vt.begin()
    t.upsert(rows(spark, (None, "a", 10), (1, "a", 1)))
    t.commit()
    t = vt.begin()
    t.upsert(rows(spark, (None, "a", 11), (1, "a", 2)))
    t.commit()
    t = vt.begin()
    t.delete_keys([(None,), (1,)])
    t.commit()

    got = {(r.k, r.grp, r.v, r._csn, r._change) for r in vt.changes().collect()}
    assert got == {
        (None, "a", 10, 1, "upsert"),
        (1, "a", 1, 1, "upsert"),
        (None, "a", 11, 2, "upsert"),
        (1, "a", 2, 2, "upsert"),
        (None, "a", 10, 2, "update_preimage"),
        (1, "a", 1, 2, "update_preimage"),
        (None, "a", 11, 3, "delete"),
        (1, "a", 2, 3, "delete"),
    }
    signed = sum(v if ch == "upsert" else -v for _, _, v, _, ch in got)
    assert signed == 0 and vt.snapshot().count() == 0


def test_preimage_delete_of_absent_key_emits_nothing(vt, spark):
    """A preimage-enabled delete of a key with no row stages no _preimg
    dir; the op still records preimages, so its key-only tombstone is not
    emitted as a delete change row."""
    t = vt.begin()
    t.delete_keys([(0,)])
    csn = t.commit()
    m = vt._read_manifest(f"{csn:010d}.json")
    (op,) = m["ops"]
    assert op["preimages"] is True
    assert not os.path.exists(os.path.join(op["dir"], "_preimg"))
    assert vt.changes().collect() == []
