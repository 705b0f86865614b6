"""Point reads answered in-process: `VersionedTable.lookup` and the
committed (reader=None) `ObjectStore` reads fold the key's one bucket on the
driver and schedule no Spark job — the reference's point read is an
in-process version-chain walk too (block_driver.rs:461-486)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import types as T

from db_core_spark.plans import ObjectStore, SnapshotUnavailableError, VersionedTable
from tests.conftest import job_count

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)
CHUNK = 256


def _commit(vt, spark, rows=(), deletes=()):
    t = vt.begin()
    if rows:
        t.upsert(spark.createDataFrame(list(rows), vt.schema))
    if deletes:
        t.delete_keys([{"k": k} for k in deletes])
    return t.commit()


@pytest.fixture
def vt(spark, tmp_path):
    table = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=4
    )
    _commit(table, spark, [(i, f"a{i}") for i in range(20)])
    _commit(table, spark, [(3, "b3")], deletes=[4])
    return table


@pytest.fixture
def store(spark, tmp_path):
    s = ObjectStore.create(spark, str(tmp_path / "objs"), chunk_size=CHUNK)
    t = s.begin()
    s.put(t, 1, bytes(range(256)) * 3 + b"tail")
    s.put(t, 2, b"small")
    t.commit()
    return s


def test_point_reads_launch_no_spark_job(spark, vt, store):
    with job_count(spark) as n:
        assert [(r.k, r.v) for r in vt.lookup({"k": 3}).collect()] == [(3, "b3")]
        assert vt.lookup({"k": 4}).collect() == []
    assert n == [0]
    with job_count(spark) as n:
        assert store.read(None, 2) == b"small"
        assert store.read_at(None, 1, CHUNK - 2, 4) == bytes([254, 255, 0, 1])
        assert store.length(None, 1) == 3 * CHUNK + 4
        assert store.read_snapshot(2, store.table.latest_csn()) == b"small"
    assert n == [0]
    # the counter does see jobs: a full snapshot scan runs at least one
    with job_count(spark) as n:
        vt.snapshot().count()
    assert n[0] >= 1


def test_lookup_pins_the_snapshot_at_call_time(spark, vt):
    held = vt.lookup({"k": 3})
    _commit(vt, spark, [(3, "c3")])
    assert [(r.k, r.v) for r in held.collect()] == [(3, "b3")]
    assert [(r.k, r.v) for r in vt.lookup({"k": 3}).collect()] == [(3, "c3")]
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)
    assert [(r.k, r.v) for r in held.collect()] == [(3, "b3")]
    assert [(r.k, r.v) for r in vt.lookup({"k": 3}).collect()] == [(3, "c3")]
    assert vt.lookup({"k": 4}).collect() == []


def test_lookup_on_reclaimed_history_raises_at_call_time(spark, vt):
    """A delta manifest the latest snapshot needs is gone (its op files
    reclaimed with it): lookup() itself raises the typed error instead of
    handing back a DataFrame that fails at collect."""
    first = vt._committed_ops(None)[0]
    shutil.rmtree(first["dir"])
    os.remove(os.path.join(vt.path, "_commitlog", f"{first['csn']:010d}.json"))
    with pytest.raises(SnapshotUnavailableError):
        vt.lookup({"k": 3})


def test_object_as_of_read_after_vacuum_raises(spark, store):
    csn = store.table.latest_csn()
    t = store.begin()
    store.put(t, 2, b"newer")
    t.commit()
    assert store.read_snapshot(2, csn) == b"small"
    store.table.checkpoint()
    store.table.vacuum(retain_seconds=0.0)
    assert store.read(None, 2) == b"newer"
    with pytest.raises(SnapshotUnavailableError):
        store.read_snapshot(2, csn)


def test_lookup_key_of_another_type_is_empty_not_an_error(vt):
    """Keys are pushed into the parquet scan only when they convert exactly
    to the column type; other values keep the pandas `==` answer."""
    assert vt.lookup({"k": "3"}).collect() == []
    assert vt.lookup({"k": None}).collect() == []
    assert vt.lookup({"k": 2**70}).collect() == []
    assert [(r.k, r.v) for r in vt.lookup({"k": 3.0}).collect()] == [(3, "b3")]


def test_non_key_filter_applies_after_version_resolution(vt):
    """Only key columns reach the scan: a value filter on a non-key column
    must not uncover an overwritten or deleted older version."""
    assert vt.lookup({"k": 3, "v": "a3"}).collect() == []
    assert vt.lookup({"k": 4, "v": "a4"}).collect() == []
    assert [(r.k, r.v) for r in vt.lookup({"k": 3, "v": "b3"}).collect()] == [(3, "b3")]


def test_lookup_on_date_and_timestamp_keys(spark, tmp_path):
    """Date and timestamp keys reach the fold as Python values, not JSON. A
    naive timestamp key means UTC (the session time zone), so it and the
    same instant given tz-aware find the row. The date is filtered in the
    parquet scan; the timestamp, stored naive by the Spark writer and
    tz-aware by the pyarrow one, in the row filter. lookup_table answers
    the same."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "dt"), key_cols=["d", "ts"], schema=schema, num_buckets=4
    )
    day = dt.date(2024, 2, 29)
    naive = dt.datetime(2024, 2, 29, 12, 0, 0, 500)
    t = vt.begin()
    t.upsert(spark.createDataFrame(
        [(day, naive, "x"), (day, dt.datetime(2024, 2, 29, 12), "y")], schema
    ))
    t.commit()
    aware = naive.replace(tzinfo=dt.timezone.utc).astimezone(
        dt.timezone(dt.timedelta(hours=-5))
    )
    for ts in (naive, aware):
        got = [(r.d, r.ts, r.v) for r in vt.lookup({"d": day, "ts": ts}).collect()]
        assert got == [(day, naive, "x")]
        assert vt.lookup_table({"d": day, "ts": ts}).column("v").to_pylist() == ["x"]
    assert vt.lookup({"d": day, "ts": naive + dt.timedelta(microseconds=1)}).collect() == []

    from db_core_spark.sources.versioned_datasource import (
        VersionedSnapshotReader,
        _key_scan_filter,
    )

    reader = VersionedSnapshotReader(
        schema, {"path": vt.path}, key_equals={"d": day, "ts": naive}
    )
    pushed, rest = _key_scan_filter(reader.key_equals, ["d", "ts"], schema)
    assert str(pushed) == "(d == 2024-02-29)" and list(rest) == ["ts"]
    assert rest["ts"] == naive.replace(tzinfo=dt.timezone.utc)


def test_key_scan_filter_pushes_key_columns_only():
    from db_core_spark.sources.versioned_datasource import _key_scan_filter

    pushed, rest = _key_scan_filter({"k": 3, "v": "x"}, ["k"], SCHEMA)
    assert str(pushed) == "(k == 3)" and rest == {"v": "x"}
    pushed, rest = _key_scan_filter({"k": "3"}, ["k"], SCHEMA)
    assert pushed is None and rest == {"k": "3"}


def test_prefix_lookup_after_layout_migration(spark, tmp_path):
    """Prefix keys (bucket_cols a strict subset of key_cols) and ops written
    under an older bucket count both go through the pushed scan."""
    schema = T.StructType(
        [
            T.StructField("obj", T.LongType()),
            T.StructField("chunk", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "pfx"), key_cols=["obj", "chunk"], schema=schema,
        num_buckets=4, bucket_cols=["obj"],
    )
    t = vt.begin()
    t.upsert(spark.createDataFrame([(o, c, f"{o}:{c}") for o in range(6) for c in range(3)], schema))
    t.commit()
    vt.rebucket(8)
    t = vt.begin()
    t.upsert(spark.createDataFrame([(4, 1, "new")], schema))
    t.delete_keys([{"obj": 4, "chunk": 2}])
    t.commit()
    got = sorted((r.obj, r.chunk, r.payload) for r in vt.lookup({"obj": 4}).collect())
    assert got == [(4, 0, "4:0"), (4, 1, "new")]
    got = [(r.chunk, r.payload) for r in vt.lookup({"obj": 4, "chunk": 1}).collect()]
    assert got == [(1, "new")]


def test_read_at_zero_length_and_negative_ranges(store):
    t = store.begin()
    for reader in (None, t):
        assert store.read_at(reader, 1, 0, 0) == b""
        assert store.read_at(reader, 1, 100, 0) == b""
        assert store.read_at(reader, 99, 0, 0) is None
        with pytest.raises(ValueError):
            store.read_at(reader, 1, -5, 10)
        with pytest.raises(ValueError):
            store.read_at(reader, 1, 0, -1)
    t.rollback()


def test_transaction_reads_before_buffered_ops_run_no_job(spark, store):
    """A transaction with nothing buffered reads its start snapshot
    in-process: put()/delete() list chunks without a Spark job, and a
    commit that lands after begin() stays invisible to it."""
    t = store.begin()
    other = store.begin()
    store.put(other, 2, b"later")
    other.commit()
    with job_count(spark) as n:
        assert store.read(t, 2) == b"small"
        assert store.length(t, 1) == 3 * CHUNK + 4
        assert store.read_at(t, 1, CHUNK - 2, 4) == bytes([254, 255, 0, 1])
        assert store.read(t, 99) is None
        store.delete(t, 1)
    assert n == [0]
    t.rollback()
    with pytest.raises(RuntimeError):
        store.read(t, 2)


def test_transaction_reads_see_buffered_writes(spark, store):
    """Once ops are buffered, reads layer them over the start snapshot: a
    second put in the same transaction tombstones the chunks past the new
    end that the first put wrote."""
    t = store.begin()
    store.put(t, 3, b"x" * (3 * CHUNK))
    assert store.length(t, 3) == 3 * CHUNK
    store.put(t, 3, b"short")
    assert store.read(t, 3) == b"short"
    assert store.read(None, 3) is None
    t.commit()
    assert store.read(None, 3) == b"short"
    assert store.table.lookup_table({"obj_id": 3}).num_rows == 1
